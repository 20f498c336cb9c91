"""Time-series / event queries over the ``events`` table.

The reference has no streaming or event-time logic of any kind (its
coordinator "watchers" are task timeouts, SURVEY.md §2.4); these
queries define the batch semantics, and streaming/windows.py runs the
same windowed aggregation under Structured Streaming with a watermark.

Scale notes (100 TB of events): the hourly rollup shuffles one row per
(hour, event_type) thanks to partial aggregation; sessionization
shuffles once on user_id and then applies two window passes within the
partition — at scale you'd range-partition by (user_id, ts) and the
plan is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table

SESSION_GAP_MIN = 30
HOT_WINDOWS_K = 5


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type (batch twin of the
    streaming windowed agg)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column + group."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 VARIANT surface over semi-structured props: parse
    ONCE to the shredded binary encoding, then typed path extraction
    with variant_get — at 100 TB this replaces per-expression string
    re-parsing (get_json_object re-tokenizes the JSON text for every
    path) with one parse and O(1) binary field reads. n_missing pins
    the missing-path contract (a typed get on an absent path yields
    NULL, not an error) — it must equal n_events since no props row
    carries that key."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    missing = F.variant_get(v, "$.not_there", "int")
    return (
        ev.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("m").isNull().cast("long")).alias("n_missing"),
        )
    )


def salted_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type through the skew-proof
    two-phase salted aggregation (operators/scale.salted_distinct_count):
    salt = hash(value) mod 16, per-(key, salt) distinct counts sum to
    the exact global distinct because each value maps to one salt.

    Why it's in the catalog: event streams are power-law — one hot
    event_type can hold most of the corpus, and a plain
    countDistinct(key) funnels that key's whole value set through one
    aggregation buffer. The salted form caps any single buffer at
    ~1/16th of the hot key while staying EXACT (hash-checked against a
    plain COUNT(DISTINCT) oracle).
    """
    from ..operators.scale import salted_distinct_count

    ev = load_table(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id", n_salts=16).select(
        "event_type", F.col("n_distinct").alias("n_users")
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): sessions per user
    with length stats. Window lag + conditional cumsum — the canonical
    batch sessionize; the streaming twin uses session_window."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    # event_id tie-break keeps the window order total (deterministic
    # under exact-ts duplicates)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = with_sid.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "duration_sec"
        ),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("duration_sec").alias("max_session_sec"),
    )


SESSION_BUCKET_HOURS = 24


def user_sessions_skewproof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_sessions re-derived WITHOUT a whole-user window partition —
    the skew-proof form for power-law users (SCALE.md names window
    skew as the one lever AQE does not cover; a user holding 20 % of
    100 TB serializes one task in the plain form).

    Two-phase split-and-stitch, exploiting that gap-sessionization is
    an interval merge and therefore associative:

      1. sessionize within (user_id, {SESSION_BUCKET_HOURS}h bucket) —
         the hot user's rows spread across time buckets, so no window
         partition exceeds one bucket's worth of one user;
      2. the per-bucket SESSION STUBS (start, end, n_events — 3 longs,
         not events) re-sessionize per user with the same gap rule:
         stubs split by a bucket boundary but within the gap merge,
         stubs already separated stay separate (bucket width >> gap,
         so only boundary-adjacent stubs can fuse).

    Phase 2 partitions by user over session stubs, reduced from events
    by the mean session size; the residual worst case (a user whose
    every event is its own session) is documented in SCALE.md rather
    than hidden. Output schema and DuckDB oracle are IDENTICAL to
    user_sessions — certifying that split-and-stitch equals the
    single-window form row-for-row, which is the whole point.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sec = F.col("ts").cast("long")
    bucketed = ev.withColumn("sec", sec).withColumn(
        "bucket", F.floor(F.col("sec") / (SESSION_BUCKET_HOURS * 3600))
    )
    w1 = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    gap1 = F.col("sec") - F.lag("sec", 1).over(w1)
    with_sid = bucketed.withColumn(
        "new_s",
        F.when(gap1.isNull() | (gap1 > SESSION_GAP_MIN * 60), 1).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_s").over(w1.rowsBetween(Window.unboundedPreceding, 0)),
    )
    stubs = with_sid.groupBy("user_id", "bucket", "sid").agg(
        F.min("sec").alias("s"),
        F.max("sec").alias("e"),
        F.count("*").alias("n"),
    )
    # phase 2: same gap rule over the stubs (ordered by start; stubs of
    # one user never overlap because buckets partition time)
    w2 = Window.partitionBy("user_id").orderBy("s", "e")
    gap2 = F.col("s") - F.lag("e", 1).over(w2)
    merged = (
        stubs.withColumn(
            "new_m",
            F.when(gap2.isNull() | (gap2 > SESSION_GAP_MIN * 60), 1).otherwise(0),
        )
        .withColumn(
            "mid",
            F.sum("new_m").over(w2.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "mid")
        .agg(
            F.sum("n").alias("n_events"),
            (F.max("e") - F.min("s")).alias("duration_sec"),
        )
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("duration_sec").alias("max_session_sec"),
    )


def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the same
    user's latest click at-or-before the purchase (tie on ts -> max
    value) — the attribution query shape. Oracle uses correlated
    LIMIT-1 subqueries with the same total order, so the match is
    deterministic in both engines."""
    from ..operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("click_ts_us"),
        F.col("value"),
    )
    return asof_join_backward(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts_us",
        right_ts="click_ts_us",
        payload_cols=["value"],
    )


def click_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (the mirror of purchase_asof_click): each
    click picks up the same user's EARLIEST purchase at-or-after the
    click, within a 1-hour tolerance — the time-to-convert query
    shape. Tie on ts -> min value; no purchase within the hour ->
    nulls. Oracle uses correlated LIMIT-1 subqueries with the same
    ascending total order."""
    from ..operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_ts_us"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.col("value"),
    )
    return asof_join_forward(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts_us",
        right_ts="purchase_ts_us",
        payload_cols=["value"],
        tolerance_us=3_600_000_000,
    )


def events_hourly_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + gap-fill: a dense per-user hourly grid (sequence +
    explode between each user's first and last hour) left-joined to
    the hourly rollup, empty hours as zero counts with the last
    observed value carried forward (window last IGNORE NULLS).
    At 100 TB the grid explode is one row per (user, hour) — generated,
    never shuffled wide — and the fill is a single window pass over
    the already-aggregated series."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.last("cents", ignorenulls=True).over(w).alias("last_cents"),
    )


PATH_N = 3
PATH_TOPK = 15


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-JOURNEY paths: the most frequent {PATH_N}-step
    event-type sequences WITHIN sessions — the path-mining view every
    product-analytics stack ships, and the free-order complement of
    funnel_conversion's fixed view->click->purchase sequence. Sessions
    come from the same 30-min gap rule as user_sessions; steps are
    consecutive events inside one session (lead() windows partitioned
    by (user, session), so paths never span a session boundary).

    Plan shape at 100 TB: two window passes over user-partitioned
    events (the skew lever is user_sessions_skewproof's
    split-and-stitch, unchanged), then ONE combiner'd path count —
    path cardinality is |event_types|^{PATH_N}, tiny regardless of
    corpus — and a top-{PATH_TOPK} over it. Output:
    (path, n_paths, rnk), ties broken by path string."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    gap = sec - F.lag(sec, 1).over(w)
    sess = ev.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    steps = sess.select(
        "event_type",
        F.lead("event_type", 1).over(ws).alias("e2"),
        F.lead("event_type", 2).over(ws).alias("e3"),
    ).where(F.col("e3").isNotNull())
    counts = steps.groupBy(
        F.concat_ws(">", "event_type", "e2", "e3").alias("path")
    ).agg(F.count("*").alias("n_paths"))
    wtop = Window.orderBy(F.desc("n_paths"), F.asc("path"))
    return counts.withColumn("rnk", F.row_number().over(wtop)).where(
        F.col("rnk") <= PATH_TOPK
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly RETENTION COHORT matrix — the classic product-analytics
    triangle: users grouped by ACTIVATION week (the week of their
    first purchase — first-activity-of-any-kind puts every user in
    cohort 1 on this corpus and the matrix degenerates to one row per
    week), then for each later week the share of the cohort still
    active at all. Pre-activation activity is excluded
    (weeks_since >= 0); never-activated users are not in any cohort.
    Complements the funnel (within-session ordering) and sessionization
    (gap structure) queries with the long-horizon engagement view.

    Integer-exact: retention is ppm (n_active * 1e6 div cohort_size).
    Week arithmetic is date_trunc('week') in both engines (ISO Monday
    start) and day-difference div 7, exact on week-aligned dates.

    Plan shape at 100 TB: one distinct over (user, week) — the only
    shuffle that scales with raw events, combiner'd; first-week is a
    min-aggregate over it; the cohort matrix is a groupBy over
    (cohort, offset) whose cardinality is WEEKS^2/2 regardless of user
    count; cohort sizes broadcast back. Output: (cohort_week,
    weeks_since, n_active, cohort_size, retention_ppm)."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    first = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    act = (
        uw.join(first, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.to_date("week"), F.to_date("cohort_week"))
                / F.lit(7)
            )
            .cast("long")
            .alias("weeks_since"),
            "user_id",
        )
        .where(F.col("weeks_since") >= 0)
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count("*").alias("n_active"))
    )
    sizes = act.where(F.col("weeks_since") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return act.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "weeks_since",
        "n_active",
        "cohort_size",
        F.expr("n_active * 1000000 div cohort_size").alias("retention_ppm"),
    )


def events_hourly_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample with LINEAR INTERPOLATION — the missing member of the
    gap-handling trio (events_hourly_filled carries the last value
    forward; this one draws the line between the two nearest observed
    hours), per event type. The metric-pipeline primitive for gauges
    and rates, where forward-fill fabricates a plateau.

    Integer-exact end-to-end so the oracle hash-matches: values are
    summed as cents (the events_hourly_filled idiom); the interpolated
    value at hour h between observations (ha, ca) and (hb, cb) is

        ca + (cb - ca) * (h - ha) div (hb - ha)

    where `div` is TRUNCATING integer division — Spark's `div` and
    DuckDB's `//` both truncate toward zero (measured: -7 // 2 = -3
    in DuckDB), so the two engines agree on negative slopes with no
    remainder gymnastics (an earlier floor-emulation via pmod was
    exactly one off the oracle on every falling segment). Numerator
    magnitude is bounded by max-hourly-cents x spine-seconds (~2^43
    here); past ~2^62 widen to DECIMAL(38,0) — one cast.

    Plan shape: one combiner'd hourly rollup, a generated (never
    shuffled wide) per-type spine, two window passes (prev/next
    observed value+hour via last/first IGNORE NULLS) partitioned by
    event_type — at 100 TB repartition the spine by (type, day) the
    same way user_sessions_skewproof splits its window. Every missing
    hour has both neighbors because the spine spans min..max OBSERVED
    hours per type. Output: (event_type, hour, n_events, cents,
    was_observed)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    j = grid.join(hourly, ["event_type", "hour"], "left").withColumn(
        "h_sec", F.col("hour").cast("long")
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_sec = F.when(F.col("cents").isNotNull(), F.col("h_sec"))
    j = (
        j.withColumn("ca", F.last("cents", ignorenulls=True).over(w_prev))
        .withColumn("ha", F.last(obs_sec, ignorenulls=True).over(w_prev))
        .withColumn("cb", F.first("cents", ignorenulls=True).over(w_next))
        .withColumn("hb", F.first(obs_sec, ignorenulls=True).over(w_next))
    )
    # greatest(.., 1) only fires on OBSERVED rows (where ha = h_sec =
    # hb and the branch below discards interp anyway); it exists
    # because DuckDB's vectorized // evaluates both CASE branches and
    # would raise on the zero denominator. Missing rows always have
    # hb > ha (distinct observed neighbors), so it is a no-op there.
    interp = F.expr(
        "ca + ((cb - ca) * (h_sec - ha)) div greatest(hb - ha, 1)"
    )
    return j.select(
        "event_type",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .otherwise(interp)
        .cast("long")
        .alias("cents"),
        F.col("cents").isNotNull().alias("was_observed"),
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimates per event type, emitted in an
    oracle-checkable form: the HLL estimate itself is engine-specific,
    so the output asserts the estimate's error bound instead of the
    estimate — (event_type, exact_users, within_bound) where
    within_bound = |approx - exact| / exact <= 5 * rsd. The DuckDB
    oracle computes the exact count and asserts TRUE, making the HLL
    path a hard driver-checked invariant rather than a rows-only row.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    rel_err = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users").cast("double")
    )
    return agg.select(
        "event_type",
        "exact_users",
        (rel_err <= F.lit(0.1)).alias("within_bound"),
    )


def hll_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via MERGEABLE HLL sketches: build
    one Apache DataSketches HLL per (event_type, day) with
    ``hll_sketch_agg``, then union the daily sketches per event type
    with ``hll_union_agg`` and estimate.

    The point vs ``approx_distinct_users`` (plain approx_count_distinct)
    is RE-AGGREGATION: a 100 TB deployment pre-computes daily sketch
    rows (KBs each) once, and any coarser rollup — weekly, monthly,
    all-time, any event-type subset — merges the stored sketches
    without touching raw data again. That storage/recompute trade is
    the whole reason mergeable summaries exist; distinct COUNTS are
    not mergeable, sketches are.

    Oracle form: the estimate itself is engine-specific, so (same
    contract as approx_distinct_users) the output asserts the error
    bound — (event_type, n_days, exact_users, within_bound) with
    within_bound = |merged-sketch estimate - exact| / exact <= 5 %
    (lgConfigK=14 -> ~0.8 % rsd, so 5 % is a hard invariant, not a
    hope). DuckDB computes the exact side and asserts TRUE.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    rel_err = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users").cast("double")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "exact_users",
        (rel_err <= F.lit(0.05)).alias("within_bound"),
    )


HDR_SUBBITS = 10  # values < 2^10 cents stored exactly; else rel err <= 2^-9


def _hdr_bucket(col: str):
    """HDR-histogram bucket index of a positive bigint column (by
    NAME) — INTEGER-EXACT (no float log anywhere, so Spark and DuckDB
    compute bit-identical indexes): values below 2^SUBBITS are their
    own bucket; larger values keep their top SUBBITS significant bits
    (bit_length via base-2 ``conv`` string length, mantissa via a
    variable shiftright — Spark SQL's shiftright takes a column bit
    count even though the Python wrapper only takes an int).
    Order-preserving, so histogram-rank quantiles land in the bucket
    containing the true quantile."""
    m = HDR_SUBBITS
    blen = f"length(conv(cast({col} as string), 10, 2))"
    return F.expr(
        f"CASE WHEN {blen} <= {m} THEN {col} "
        f"ELSE {1 << m} + ({blen} - {m + 1}) * {1 << (m - 1)} "
        f"   + (shiftright({col}, {blen} - {m}) - {1 << (m - 1)}) END"
    )


def _hdr_bounds(col: str):
    """(lo, hi) cents bounds of an HDR bucket-index column (by name)
    — the exact integer inverse of ``_hdr_bucket``."""
    m = HDR_SUBBITS
    shift = f"(({col} - {1 << m}) div {1 << (m - 1)}) + 1"
    mant = f"({1 << (m - 1)} + (({col} - {1 << m}) % {1 << (m - 1)}))"
    lo = F.expr(
        f"CASE WHEN {col} < {1 << m} THEN {col} "
        f"ELSE shiftleft({mant}, {shift}) END"
    )
    hi = F.expr(
        f"CASE WHEN {col} < {1 << m} THEN {col} "
        f"ELSE shiftleft({mant} + 1, {shift}) - 1 END"
    )
    return lo, hi


def hdr_quantile_rollup_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly p50/p95/p99 of event value via MERGEABLE quantile
    sketches: one HDR histogram per (day) is the stored artifact,
    monthly percentiles come from count-summing the daily sketches —
    never from raw rows. The quantile-sketch complement of
    ``hll_sketch_rollup_users``'s distinct-count rollup; together they
    are the two halves of every pre-aggregated metrics pipeline.

    Sketch choice: the HDR-histogram design (Tene's HdrHistogram;
    same log-bucket family as DataDog's DDSketch, VLDB'19) instead of
    KLL/t-digest, deliberately: its bucket function is INTEGER-EXACT
    (bit tricks, no float log, see ``_hdr_bucket``), so it is
    deterministic and the DuckDB oracle replays the ENTIRE sketch
    pipeline hash-identically — a strictly stronger certification
    than the bound-only check a randomized KLL compaction would
    allow. Accuracy is a hard guarantee, not an expectation: the
    estimate's bucket contains the true rank-q value, so relative
    error <= 2^-(SUBBITS-1) ~ 0.2 %. ``within_bound`` re-asserts that
    in-query against the exact rank-q value.

    100 TB: the daily sketch is <= a-few-hundred rows (one per
    occupied bucket) regardless of raw volume — the pre-aggregate-once
    pattern. Any coarser rollup (week, month, all-time, any dimension
    subset) is a groupBy-sum over stored sketch rows; raw data is
    touched exactly once, ever. The merge agg shuffles
    #days x #buckets rows; the certification-only exact side (one
    distinct-cents shuffle) would be dropped in production."""
    m = HDR_SUBBITS
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .where(F.col("cents") >= 1)
    )
    # the stored artifact: one histogram row per (day, bucket)
    daily = ev.groupBy(
        "month", "day", _hdr_bucket("cents").alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    # merge step: month <- sum of daily sketches (counts just add)
    monthly = daily.groupBy("month", "bucket").agg(F.sum("cnt").alias("cnt"))
    n_days = daily.groupBy("month").agg(
        F.countDistinct("day").alias("n_days")
    )
    tot = monthly.groupBy("month").agg(F.sum("cnt").alias("n"))
    w = Window.partitionBy("month").orderBy("bucket")
    cum = monthly.withColumn("cum", F.sum("cnt").over(w)).join(tot, "month")
    qcols = {}
    for tag, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
        r = F.ceil(F.lit(q) * F.col("n"))
        qcols[tag] = F.min(
            F.when(F.col("cum") >= r, F.col("bucket"))
        ).alias(f"{tag}_bucket")
    est = cum.groupBy("month", "n").agg(*qcols.values())
    # certification-only exact side: rank-q value from raw cents
    wx = Window.partitionBy("month").orderBy("cents")
    exact_cum = (
        ev.groupBy("month", "cents")
        .agg(F.count("*").alias("c"))
        .withColumn("xcum", F.sum("c").over(wx))
        .join(tot, "month")
    )
    xcols = {}
    for tag, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
        r = F.ceil(F.lit(q) * F.col("n"))
        xcols[tag] = F.min(
            F.when(F.col("xcum") >= r, F.col("cents"))
        ).alias(f"{tag}_exact")
    exact = exact_cum.groupBy("month").agg(*xcols.values())
    out = est.join(exact, "month").join(n_days, "month")
    checks = []
    sel = [
        F.col("month"),
        F.col("n_days"),
        F.col("n").cast("long").alias("n_events"),
    ]
    for tag in ("p50", "p95", "p99"):
        lo, hi = _hdr_bounds(f"{tag}_bucket")
        sel.append(lo.cast("long").alias(f"{tag}_cents"))
        checks.append(
            F.col(f"{tag}_exact").between(lo, hi)
        )
    sel.append(
        checks[0] & checks[1] & checks[2],
    )
    return out.select(*sel[:-1], sel[-1].alias("within_bound"))


def mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on the daily revenue series: flag days
    whose absolute deviation from the MEDIAN exceeds 3x the median
    absolute deviation (MAD). Mean/stddev z-scores break exactly when
    needed most — the outlier inflates the stddev that judges it; the
    median/MAD pair has a 50 % breakdown point, which is why pipeline
    health monitors use it for ingest-volume and revenue series.

    Integer-exact end to end: cents are integers, and both medians use
    the same rank-from-cumulative form as the HDR sketch's exact side
    (min value whose cumulative count reaches ceil(n/2)) — no
    interpolation, so DuckDB replays it hash-identically. The
    consistency constant (1.4826 for normal data) is folded into the
    3x threshold. 100 TB: one partial-agg'd day rollup shuffle; the
    median machinery then runs on #days rows — bounded by the
    calendar, not data volume."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = ev.groupBy("day").agg(F.sum("cents").alias("revenue_cents"))
    if daily.limit(1).count() == 0:
        # empty corpus: no days, no medians — typed empty result
        return spark.createDataFrame(
            [],
            "day date, revenue_cents long, median_cents long, "
            "mad_cents long, is_outlier boolean",
        )

    def _median(df: DataFrame, col: str):
        n = df.count()  # #days — calendar-bounded scalar
        r = -(-n // 2)  # ceil(n/2)
        wc = Window.orderBy(col)
        # single-partition window over #days rows by construction
        return (
            df.withColumn("_cum", F.count("*").over(wc))
            .where(F.col("_cum") >= F.lit(r))
            .orderBy(col)
            .limit(1)
            .select(col)
            .first()[0]
        )

    med = _median(daily, "revenue_cents")
    devs = daily.withColumn(
        "dev", F.abs(F.col("revenue_cents") - F.lit(med))
    )
    mad = _median(devs.select(F.col("dev").alias("d")), "d")
    return devs.select(
        "day",
        "revenue_cents",
        F.lit(med).cast("long").alias("median_cents"),
        F.lit(mad).cast("long").alias("mad_cents"),
        (F.col("dev") > F.lit(3) * F.lit(mad)).alias("is_outlier"),
    )


def user_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins compaction: collapse the event log to one row per
    user holding the most recent event (ts desc, event_id desc as the
    deterministic tiebreak) plus the lifetime event count — the CDC
    "upsert-compaction" primitive that turns an append-only log into
    current state, and the batch twin of stream_scd2_user_state's
    current rows. 100 TB: one shuffle on user_id; the window writes no
    intermediate state beyond the per-key frame, and at scale this is
    the canonical compaction job run per ingest partition."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_events", F.count("*").over(Window.partitionBy("user_id"))
        )
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.floor(F.col("value") * 100).cast("long").alias("last_cents"),
        )
    )


def range_join_hot_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join, expressed the way it scales: derive the top
    HOT_WINDOWS_K busiest hours, widen each to an overlapping interval
    [hour-30min, hour+90min), and join every event whose ts falls inside.

    A naive range join is a broadcast-nested-loop with an O(n*k)
    predicate; the scale pattern used here turns it into an equi-join:
    explode each interval into the hour buckets it covers, bucket the
    events by hour, broadcast-hash-join on the bucket key, then apply
    the BETWEEN as a cheap residual filter. The probe side shuffles
    nothing and each event is evaluated against only the intervals
    overlapping its own bucket — at 100 TB that is a map-only pass.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy(F.desc("n"), "hour")
    top = (
        hourly.orderBy(F.desc("n"), "hour")
        .limit(HOT_WINDOWS_K)
        .select(
            F.row_number().over(w).alias("window_id"),
            (F.col("hour") - F.expr("INTERVAL 30 MINUTES")).alias("w_start"),
            (F.col("hour") + F.expr("INTERVAL 90 MINUTES")).alias("w_end"),
        )
    )
    # one row per (window, covered hour bucket); intervals are 2h wide
    # so this is a constant fan-out of 3
    buckets = top.select(
        "window_id",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "w_start"),
                F.date_trunc("hour", "w_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    probe = ev.select(
        F.date_trunc("hour", "ts").alias("bucket"),
        "ts",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    joined = probe.join(F.broadcast(buckets), "bucket").where(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return joined.groupBy("window_id", "w_start", "w_end").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("cents").alias("sum_cents"),
    )


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable-style) multi-resolution rollup:
    hour, day, and week buckets per event type in one result with a
    ``resolution`` tag.

    The coarser resolutions re-aggregate the next-finer rollup instead
    of rescanning the raw events — the day pass reads |hours| rows, the
    week pass |days| rows. At 100 TB the raw table is scanned exactly
    once and each re-aggregation is a shuffle of pre-shrunk partials
    (this is the materialized-rollup cascade TimescaleDB/Druid run;
    here the cascade is a single lazy plan that AQE pipelines).
    Money stays in integer cents until the end, so every engine sums
    exactly."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count("*").alias("n_events"), F.sum(cents).alias("sum_cents"))
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_cents").alias("sum_cents"))
    weekly = daily.groupBy(
        "event_type", F.date_trunc("week", "bucket").alias("bucket")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_cents").alias("sum_cents"))
    return (
        hourly.select(F.lit("hour").alias("resolution"), "*")
        .unionByName(daily.select(F.lit("day").alias("resolution"), "*"))
        .unionByName(weekly.select(F.lit("week").alias("resolution"), "*"))
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over the event log: how many users
    progressed view -> click -> purchase IN THAT ORDER (each stage's
    event strictly after the previous stage's first occurrence), plus
    the mean lag from the previous stage (integer-microsecond division
    — no float aggregation anywhere, so the result hashes exactly).

    Plan shape: one narrow filter + partial-agg per stage, chained by
    equi-joins on user_id — each stage's input is only the users who
    survived the previous stage, so work SHRINKS down the funnel; no
    window over the full event stream, no self-join on events. At
    100 TB: three user-keyed exchanges (AQE-coalesced), with the
    event scan pruned to the three funnel event types.
    Output: (stage, n_users, avg_gap_us).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    view = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t0"))
    )
    click = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[1])
        .join(view, "user_id")
        .where(F.col("us") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("us").alias("t1"))
    )
    purchase = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[2])
        .join(click, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("us").alias("t2"))
    )

    def stage(df: DataFrame, name: str, gap) -> DataFrame:
        # Global aggregate (no groupBy) so an EMPTY stage still emits
        # one row with n_users=0 / NULL gap — matching the oracle's
        # ungrouped UNION ALL arms on any dataset, including one with
        # no clicks or purchases at all.
        return (
            df.select(gap.cast("long").alias("_gap"))
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.expr("sum(_gap) div count(1)").alias("avg_gap_us"),
            )
            .select(F.lit(name).alias("stage"), "n_users", "avg_gap_us")
        )

    return (
        stage(view, "view", F.lit(0))
        .unionByName(stage(click, "view>click", F.col("t1") - F.col("t0")))
        .unionByName(
            stage(purchase, "view>click>purchase", F.col("t2") - F.col("t1"))
        )
    )


FORGET_MOD = 97  # delete every user_id % 97 == 0 — a deterministic cohort


def forget_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, certified end-to-end: the events table is
    materialized hash-bucket partitioned (16 buckets on user_id), a
    deterministic user cohort (user_id % {FORGET_MOD} == 0) is deleted
    through ``sources/sinks.merge_delete_parquet`` — dynamic partition
    overwrite rewrites ONLY buckets containing a victim; a
    fully-emptied bucket is removed rather than silently kept (the
    delete-verb bug the test pins byte-level) — and the surviving
    table is read back. The oracle is the logical complement (all
    events whose user survives), so a hash match certifies the
    PHYSICAL delete path produced exactly the logical answer: no
    victim row retained, no survivor lost."""
    import glob
    import os

    from ..sources.sinks import merge_delete_parquet
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        staging = os.path.join(tmp, "events")
        ev = load_table(spark, sf_dir, "events").withColumn(
            "_ub", F.pmod(F.xxhash64(F.col("user_id")), F.lit(16))
        )
        ev.write.mode("overwrite").partitionBy("_ub").parquet(staging)
        victims = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id") % FORGET_MOD == 0)
            .select("user_id")
            .distinct()
        )
        merge_delete_parquet(
            spark, staging, victims, key_cols=("user_id",), partition_cols=("_ub",)
        )

    root = derived_cache_dir(sf_dir, "forget", ("events",), build)
    path = os.path.join(root, "events")
    if glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        out = spark.read.parquet(path)
    else:
        out = load_table(spark, sf_dir, "events").limit(0)
    return out.select("event_id", "user_id", "event_type", "ts")


SKEW_TOP_K = 10
HOT_JOIN_THRESHOLD = 200  # rows per key before the split-join routes it hot
EARLY_WINDOW_HOURS = 1


def events_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over the event stream: the top-10 heavy
    hitters by user with exact integer shares (ppm) plus the global
    key cardinality on every row. This is the operator a pipeline runs
    BEFORE choosing a salting/split strategy — the measurement half of
    the skew levers (salted_user_counts, split_hot_key_join): a
    max share over ~1/n_salts ppm says the hot key will drown one
    reducer and the skew-proof form is required.

    Plan shape at 100 TB: one partial-agg pass over the fact (one row
    per key survives the map side), a TakeOrdered top-k (no global
    sort), and two scalar aggregates broadcast back via cross join —
    nothing driver-side beyond k rows + 2 scalars. Integer ppm (div,
    not /) keeps the result hash-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    totals = counts.agg(
        F.sum("n_events").alias("_total"),
        F.count("*").alias("n_users_total"),
    )
    top = (
        counts.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(SKEW_TOP_K)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n_events"), F.asc("user_id"))
            ),
        )
    )
    return top.crossJoin(F.broadcast(totals)).select(
        "rank",
        "user_id",
        "n_events",
        F.expr("n_events * 1000000 div _total").alias("share_ppm"),
        "n_users_total",
    )


def early_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: how many events happened inside each user's
    first {EARLY_WINDOW_HOURS} h (onboarding window) vs overall — the
    canonical fact-to-derived-dim self-join on user_id, which is
    exactly where a power-law user distribution melts one reducer.

    Runs through operators/scale.split_hot_key_join: users with >=
    {HOT_JOIN_THRESHOLD} events take a broadcast path (their dim rows
    never enter a shuffle keyed on the hot id), the cold tail takes
    the normal shuffle join. The DuckDB oracle is the PLAIN join —
    the hash match certifies the routed plan is row-for-row equivalent.
    tests/test_skew.py re-certifies on data where one user holds 20 %
    of the corpus.
    """
    from ..operators.scale import split_hot_key_join

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    joined = split_hot_key_join(
        ev.select("user_id", "event_type", "ts"),
        first_seen,
        on="user_id",
        hot_threshold=HOT_JOIN_THRESHOLD,
    )
    early = (
        F.col("ts").cast("long") - F.col("t0").cast("long")
        < EARLY_WINDOW_HOURS * 3600
    )
    return joined.groupBy("event_type").agg(
        F.sum(early.cast("long")).alias("n_early"),
        F.count("*").alias("n_events"),
    )


COVIS_USER_CAP = 30
COVIS_MIN_SUPPORT = 5
COVIS_TOPK = 20


def covisitation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item co-visitation with LIFT — "users who touched X
    also touched Y", the collaborative-filtering counting primitive
    (and the events-side complement of collocation_pmi's text pairs).
    Items are the props.k key; lift = P(X,Y)/(P(X)P(Y)) over user
    baskets, computed as exact integer ppm
    (n_both * n_users * 1e6 div (n_x * n_y)) so the oracle
    hash-matches; top-{COVIS_TOPK} pairs with support >=
    {COVIS_MIN_SUPPORT}, ties broken by item ids.

    The quadratic term is per-user pair generation — a power-law user
    with 10^5 items would emit 10^10 pairs. The lever is the
    deterministic PER-USER CAP (row_number over md5 order, keep
    {COVIS_USER_CAP}): pair blowup is bounded at cap^2/2 per user
    regardless of basket size, recall loss is a uniform hash sample
    of the hot basket, and the oracle replays the identical cap. The
    self-join keys on user_id (hash-shuffled, AQE-splittable); item
    marginals and the user count are tiny broadcasts; the top-k is
    one global window over support-filtered pairs (bounded by the
    item-vocabulary square, further cut by MIN_SUPPORT)."""
    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object(F.col("props"), "$.k").cast("int")
    ui = (
        ev.select("user_id", item.alias("item"))
        .where(F.col("item").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.concat_ws(",", F.col("user_id"), F.col("item"))), F.col("item")
    )
    capped = (
        ui.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= COVIS_USER_CAP)
        .drop("rn")
    )
    n_users = capped.select(F.countDistinct("user_id").alias("nu"))
    item_counts = capped.groupBy("item").agg(F.count("*").alias("n_item"))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= COVIS_MIN_SUPPORT)
    )
    ia = item_counts.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))
    ib = item_counts.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("n_both * nu * 1000000 div (n_a * n_b)").alias("lift_ppm"),
        )
    )
    w2 = Window.orderBy(F.desc("lift_ppm"), F.asc("item_a"), F.asc("item_b"))
    return scored.withColumn("rnk", F.row_number().over(w2)).where(
        F.col("rnk") <= COVIS_TOPK
    )


EVENTS_ORACLES: dict[str, str] = {
    "session_paths": f"""
        WITH evsec AS (
            SELECT user_id, ts, event_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec
            FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN sec - lag(sec) OVER w IS NULL
                                OR sec - lag(sec) OVER w
                                   > {SESSION_GAP_MIN * 60}
                           THEN 1 ELSE 0 END AS new_s
            FROM evsec
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, event_id, event_type,
                   sum(new_s) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged
        ),
        steps AS (
            SELECT event_type,
                   lead(event_type, 1) OVER ws AS e2,
                   lead(event_type, 2) OVER ws AS e3
            FROM sess
            WINDOW ws AS (PARTITION BY user_id, session_id
                          ORDER BY ts, event_id)
        ),
        counts AS (
            SELECT event_type || '>' || e2 || '>' || e3 AS path,
                   count(*) AS n_paths
            FROM steps WHERE e3 IS NOT NULL
            GROUP BY 1
        )
        SELECT path, CAST(n_paths AS BIGINT) AS n_paths, rnk FROM (
            SELECT path, n_paths,
                   row_number() OVER (ORDER BY n_paths DESC, path) AS rnk
            FROM counts
        ) WHERE rnk <= {PATH_TOPK}
    """,
    "retention_cohorts": """
        WITH uw AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS week
            FROM events
        ),
        first AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        act AS (
            SELECT f.cohort_week,
                   date_diff('day', CAST(f.cohort_week AS DATE),
                             CAST(u.week AS DATE)) // 7 AS weeks_since,
                   count(*) AS n_active
            FROM uw u JOIN first f ON f.user_id = u.user_id
            WHERE date_diff('day', CAST(f.cohort_week AS DATE),
                            CAST(u.week AS DATE)) >= 0
            GROUP BY 1, 2
        ),
        sizes AS (
            SELECT cohort_week, n_active AS cohort_size
            FROM act WHERE weeks_since = 0
        )
        SELECT a.cohort_week,
               CAST(a.weeks_since AS BIGINT) AS weeks_since,
               CAST(a.n_active AS BIGINT) AS n_active,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               CAST(a.n_active * 1000000 // s.cohort_size AS BIGINT)
                   AS retention_ppm
        FROM act a JOIN sizes s ON s.cohort_week = a.cohort_week
    """,
    "events_hourly_interp": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*) AS n,
                   sum(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT event_type, min(hour) AS h0, max(hour) AS h1
            FROM hourly GROUP BY 1
        ),
        grid AS (
            SELECT event_type,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ),
        j AS (
            SELECT g.event_type, g.hour, h.n, h.cents,
                   epoch_us(g.hour) // 1000000 AS h_sec
            FROM grid g LEFT JOIN hourly h USING (event_type, hour)
        ),
        wnd AS (
            SELECT *,
                   last_value(cents IGNORE NULLS) OVER w_prev AS ca,
                   last_value(CASE WHEN cents IS NOT NULL THEN h_sec END
                              IGNORE NULLS) OVER w_prev AS ha,
                   first_value(cents IGNORE NULLS) OVER w_next AS cb,
                   first_value(CASE WHEN cents IS NOT NULL THEN h_sec END
                               IGNORE NULLS) OVER w_next AS hb
            FROM j
            WINDOW w_prev AS (PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_next AS (PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, hour,
               CAST(coalesce(n, 0) AS BIGINT) AS n_events,
               CAST(CASE WHEN cents IS NOT NULL THEN cents
                    ELSE ca + ((cb - ca) * (h_sec - ha))
                         // greatest(hb - ha, 1)
                    END AS BIGINT) AS cents,
               cents IS NOT NULL AS was_observed
        FROM wnd
    """,
    "covisitation_lift": f"""
        WITH ui AS (
            -- TRY_CAST, not CAST: Spark's cast yields NULL on a
            -- non-numeric props.k and the row is filtered; DuckDB's
            -- CAST would hard-error — TRY_CAST + the IS NOT NULL
            -- filter on the CAST RESULT makes both engines drop
            -- unparsable items identically.
            SELECT DISTINCT user_id, item FROM (
                SELECT user_id,
                       TRY_CAST(json_extract_string(props, '$.k') AS INT)
                           AS item
                FROM events
            ) WHERE item IS NOT NULL
        ),
        capped AS (
            SELECT user_id, item FROM (
                SELECT user_id, item,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY md5(CAST(user_id AS VARCHAR) || ',' ||
                                        CAST(item AS VARCHAR)), item) AS rn
                FROM ui
            ) WHERE rn <= {COVIS_USER_CAP}
        ),
        nu AS (SELECT count(DISTINCT user_id) AS nu FROM capped),
        ic AS (SELECT item, count(*) AS n_item FROM capped GROUP BY 1),
        pairs AS (
            SELECT a.item AS item_a, b.item AS item_b,
                   count(*) AS n_both
            FROM capped a
            JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
            GROUP BY 1, 2
            HAVING count(*) >= {COVIS_MIN_SUPPORT}
        ),
        scored AS (
            SELECT p.item_a, p.item_b,
                   CAST(p.n_both AS BIGINT) AS n_both,
                   CAST(ia.n_item AS BIGINT) AS n_a,
                   CAST(ib.n_item AS BIGINT) AS n_b,
                   CAST(p.n_both * (SELECT nu FROM nu) * 1000000
                        // (ia.n_item * ib.n_item) AS BIGINT) AS lift_ppm
            FROM pairs p
            JOIN ic ia ON ia.item = p.item_a
            JOIN ic ib ON ib.item = p.item_b
        )
        SELECT * FROM (
            SELECT item_a, item_b, n_both, n_a, n_b, lift_ppm,
                   row_number() OVER (ORDER BY lift_ppm DESC,
                                      item_a, item_b) AS rnk
            FROM scored
        ) WHERE rnk <= {COVIS_TOPK}
    """,
    # the logical complement of the physical delete: every event whose
    # user is NOT in the forgotten cohort, nothing else
    "forget_users_events": f"""
        SELECT event_id, user_id, event_type, ts
        FROM events
        WHERE user_id % {FORGET_MOD} <> 0
    """,
    # missing-path typed get -> NULL in both engines, so n_missing is
    # just the row count; sum of ints cast BIGINT to match Spark long
    "events_variant_stats": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
                   AS sum_k,
               min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
               max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
               CAST(sum(CASE WHEN json_extract(props, '$.not_there') IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        FROM events
        GROUP BY event_type
    """,
    "funnel_conversion": """
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        ),
        v AS (
            SELECT user_id, min(us) AS t0 FROM ev
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT ev.user_id, v.t0, min(ev.us) AS t1
            FROM ev JOIN v ON ev.user_id = v.user_id
            WHERE ev.event_type = 'click' AND ev.us > v.t0
            GROUP BY ev.user_id, v.t0
        ),
        p AS (
            SELECT ev.user_id, c.t1, min(ev.us) AS t2
            FROM ev JOIN c ON ev.user_id = c.user_id
            WHERE ev.event_type = 'purchase' AND ev.us > c.t1
            GROUP BY ev.user_id, c.t1
        )
        SELECT 'view' AS stage, count(*) AS n_users,
               CASE WHEN count(*) = 0 THEN NULL
                    ELSE CAST(0 AS BIGINT) END AS avg_gap_us FROM v
        UNION ALL
        SELECT 'view>click', count(*),
               CASE WHEN count(*) = 0 THEN NULL
                    ELSE CAST(sum(t1 - t0) // count(*) AS BIGINT) END FROM c
        UNION ALL
        SELECT 'view>click>purchase', count(*),
               CASE WHEN count(*) = 0 THEN NULL
                    ELSE CAST(sum(t2 - t1) // count(*) AS BIGINT) END FROM p
    """,
    "events_skew_profile": f"""
        WITH counts AS (
            SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        ),
        totals AS (
            SELECT CAST(sum(n_events) AS BIGINT) AS _total,
                   count(*) AS n_users_total FROM counts
        ),
        top AS (
            SELECT user_id, n_events,
                   CAST(row_number() OVER (ORDER BY n_events DESC, user_id)
                        AS INT) AS rank
            FROM counts ORDER BY n_events DESC, user_id LIMIT {SKEW_TOP_K}
        )
        SELECT rank, user_id, n_events,
               n_events * 1000000 // _total AS share_ppm,
               n_users_total
        FROM top CROSS JOIN totals
    """,
    # plain join == the split-routed plan, row for row
    "early_user_activity": f"""
        WITH first_seen AS (
            SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
        )
        SELECT e.event_type,
               CAST(sum(CASE WHEN CAST(floor(epoch(e.ts)) AS BIGINT)
                                  - CAST(floor(epoch(f.t0)) AS BIGINT)
                                  < {EARLY_WINDOW_HOURS} * 3600
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
               count(*) AS n_events
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        GROUP BY e.event_type
    """,
    # The salted two-phase plan must equal a plain exact distinct.
    "salted_user_counts": """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
    """,
    "range_join_hot_windows": f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour, count(*) AS n
            FROM events GROUP BY 1
        ),
        top AS (
            SELECT CAST(row_number() OVER (ORDER BY n DESC, hour) AS INT)
                       AS window_id,
                   hour - INTERVAL 30 MINUTE AS w_start,
                   hour + INTERVAL 90 MINUTE AS w_end
            FROM hourly ORDER BY n DESC, hour LIMIT {HOT_WINDOWS_K}
        )
        SELECT t.window_id, t.w_start, t.w_end,
               count(*) AS n_events,
               count(DISTINCT e.user_id) AS n_users,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM top t JOIN events e
          ON e.ts >= t.w_start AND e.ts < t.w_end
        GROUP BY 1, 2, 3
    """,
    "hypertable_rollup": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   count(*) AS n_events,
                   sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
            FROM events GROUP BY 1, 2
        ),
        daily AS (
            SELECT event_type, date_trunc('day', bucket) AS bucket,
                   sum(n_events) AS n_events, sum(sum_cents) AS sum_cents
            FROM hourly GROUP BY 1, 2
        ),
        weekly AS (
            SELECT event_type, date_trunc('week', bucket) AS bucket,
                   sum(n_events) AS n_events, sum(sum_cents) AS sum_cents
            FROM daily GROUP BY 1, 2
        )
        SELECT 'hour' AS resolution, event_type, bucket,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(sum_cents AS BIGINT) AS sum_cents FROM hourly
        UNION ALL
        SELECT 'day', event_type, bucket,
               CAST(n_events AS BIGINT), CAST(sum_cents AS BIGINT) FROM daily
        UNION ALL
        SELECT 'week', event_type, bucket,
               CAST(n_events AS BIGINT), CAST(sum_cents AS BIGINT) FROM weekly
    """,
    # mergeable-sketch rollup: estimate is engine-specific, so the
    # output asserts the 5% error bound (same contract as
    # approx_distinct_users); DuckDB computes the exact side
    "hll_sketch_rollup_users": """
        SELECT event_type,
               count(DISTINCT CAST(ts AS DATE)) AS n_days,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM events
        GROUP BY event_type
    """,
    "approx_distinct_users": """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM events
        GROUP BY event_type
    """,
    # median/MAD via the same rank-from-cumulative form as the Spark
    # side — integer cents, no interpolation, hash-identical
    "mad_outlier_days": """
        WITH daily AS (
            -- CAST around the sum: DuckDB sums BIGINT into HUGEINT,
            -- which lands in pandas as float64 and breaks the
            -- driver's stringified hash ('1815764.0' vs '1815764')
            SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
            FROM events GROUP BY 1
        ),
        nn AS (SELECT count(*) AS n FROM daily),
        med AS (
            SELECT min(revenue_cents) AS med FROM (
                SELECT revenue_cents,
                       count(*) OVER (ORDER BY revenue_cents) AS cum
                FROM daily
            ), nn WHERE cum >= (n + 1) // 2
        ),
        devs AS (
            SELECT day, revenue_cents,
                   abs(revenue_cents - med) AS dev, med
            FROM daily, med
        ),
        mad AS (
            SELECT min(dev) AS mad FROM (
                SELECT dev, count(*) OVER (ORDER BY dev) AS cum FROM devs
            ), nn WHERE cum >= (n + 1) // 2
        )
        SELECT day, revenue_cents,
               CAST(med AS BIGINT) AS median_cents,
               CAST(mad AS BIGINT) AS mad_cents,
               dev > 3 * mad AS is_outlier
        FROM devs, mad
    """,
    "user_latest_state": """
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               ts AS last_ts, event_type AS last_event_type,
               CAST(floor(value * 100) AS BIGINT) AS last_cents
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY ts DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n_events
            FROM events
        ) WHERE rn = 1
    """,
    # HDR quantile-sketch rollup: the bucket function is integer-exact
    # (bit tricks, no float log), so DuckDB replays the WHOLE sketch
    # pipeline hash-identically — daily histograms, count-sum merge,
    # rank-from-cumulative quantiles, bucket decode — and the exact
    # rank-q side proves within_bound structurally TRUE.
    "hdr_quantile_rollup_values": f"""
        WITH ev AS (
            SELECT strftime(ts, '%Y-%m') AS month, CAST(ts AS DATE) AS day,
                   CAST(floor(value * 100) AS BIGINT) AS cents
            FROM events
            WHERE CAST(floor(value * 100) AS BIGINT) >= 1
        ),
        bk AS (
            SELECT month, day,
                   CASE WHEN length(bin(cents)) <= {HDR_SUBBITS} THEN cents
                        ELSE {1 << HDR_SUBBITS}
                             + (length(bin(cents)) - {HDR_SUBBITS + 1})
                               * {1 << (HDR_SUBBITS - 1)}
                             + ((cents >> (length(bin(cents)) - {HDR_SUBBITS}))
                                - {1 << (HDR_SUBBITS - 1)})
                   END AS bucket
            FROM ev
        ),
        daily AS (
            SELECT month, day, bucket, count(*) AS cnt
            FROM bk GROUP BY 1, 2, 3
        ),
        monthly AS (
            SELECT month, bucket, sum(cnt) AS cnt FROM daily GROUP BY 1, 2
        ),
        nd AS (
            SELECT month, count(DISTINCT day) AS n_days FROM daily GROUP BY 1
        ),
        tot AS (SELECT month, sum(cnt) AS n FROM monthly GROUP BY 1),
        cum AS (
            SELECT m.month, m.bucket, t.n,
                   sum(m.cnt) OVER (PARTITION BY m.month
                                    ORDER BY m.bucket) AS cum
            FROM monthly m JOIN tot t USING (month)
        ),
        est AS (
            SELECT month, n,
                   min(CASE WHEN cum >= ceil(0.5  * n) THEN bucket END)
                       AS p50_bucket,
                   min(CASE WHEN cum >= ceil(0.95 * n) THEN bucket END)
                       AS p95_bucket,
                   min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END)
                       AS p99_bucket
            FROM cum GROUP BY month, n
        ),
        xcum AS (
            SELECT x.month, x.cents, t.n,
                   sum(x.c) OVER (PARTITION BY x.month
                                  ORDER BY x.cents) AS xcum
            FROM (SELECT month, cents, count(*) AS c
                  FROM ev GROUP BY 1, 2) x
            JOIN tot t USING (month)
        ),
        exact AS (
            SELECT month,
                   min(CASE WHEN xcum >= ceil(0.5  * n) THEN cents END)
                       AS p50_exact,
                   min(CASE WHEN xcum >= ceil(0.95 * n) THEN cents END)
                       AS p95_exact,
                   min(CASE WHEN xcum >= ceil(0.99 * n) THEN cents END)
                       AS p99_exact
            FROM xcum GROUP BY month
        )
        SELECT e.month, nd.n_days, CAST(e.n AS BIGINT) AS n_events,
               CAST(CASE WHEN p50_bucket < {1 << HDR_SUBBITS} THEN p50_bucket
                    ELSE ({1 << (HDR_SUBBITS - 1)}
                          + (p50_bucket - {1 << HDR_SUBBITS})
                            % {1 << (HDR_SUBBITS - 1)})
                         << ((p50_bucket - {1 << HDR_SUBBITS})
                             // {1 << (HDR_SUBBITS - 1)} + 1)
                    END AS BIGINT) AS p50_cents,
               CAST(CASE WHEN p95_bucket < {1 << HDR_SUBBITS} THEN p95_bucket
                    ELSE ({1 << (HDR_SUBBITS - 1)}
                          + (p95_bucket - {1 << HDR_SUBBITS})
                            % {1 << (HDR_SUBBITS - 1)})
                         << ((p95_bucket - {1 << HDR_SUBBITS})
                             // {1 << (HDR_SUBBITS - 1)} + 1)
                    END AS BIGINT) AS p95_cents,
               CAST(CASE WHEN p99_bucket < {1 << HDR_SUBBITS} THEN p99_bucket
                    ELSE ({1 << (HDR_SUBBITS - 1)}
                          + (p99_bucket - {1 << HDR_SUBBITS})
                            % {1 << (HDR_SUBBITS - 1)})
                         << ((p99_bucket - {1 << HDR_SUBBITS})
                             // {1 << (HDR_SUBBITS - 1)} + 1)
                    END AS BIGINT) AS p99_cents,
               TRUE AS within_bound
        FROM est e JOIN exact USING (month) JOIN nd USING (month)
    """,
    "events_hourly_filled": """
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS hour,
                   count(*) AS n,
                   sum(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT user_id, min(hour) AS h0, max(hour) AS h1
            FROM hourly GROUP BY 1
        ),
        grid AS (
            SELECT user_id,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        )
        SELECT g.user_id, g.hour,
               CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
               CAST(last_value(h.cents IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS last_cents
        FROM grid g LEFT JOIN hourly h USING (user_id, hour)
    """,
    "events_hourly": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
    """,
    "events_json_extract": """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        FROM (
            -- TRY_CAST: match Spark's null-on-unparsable cast instead
            -- of DuckDB CAST's hard error (same fix as covisitation)
            SELECT event_type,
                   TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        )
        GROUP BY event_type
    """,
    "purchase_asof_click": """
        SELECT p.event_id, p.user_id,
               epoch_us(p.ts) AS purchase_ts_us,
               (SELECT epoch_us(c.ts) FROM events c
                WHERE c.event_type = 'click'
                  AND c.user_id = p.user_id AND c.ts <= p.ts
                ORDER BY c.ts DESC, c.value DESC LIMIT 1) AS matched_ts_us,
               (SELECT c.value FROM events c
                WHERE c.event_type = 'click'
                  AND c.user_id = p.user_id AND c.ts <= p.ts
                ORDER BY c.ts DESC, c.value DESC LIMIT 1) AS matched_value
        FROM events p
        WHERE p.event_type = 'purchase'
    """,
    "click_next_purchase": """
        SELECT c.event_id, c.user_id,
               epoch_us(c.ts) AS click_ts_us,
               (SELECT epoch_us(p.ts) FROM events p
                WHERE p.event_type = 'purchase'
                  AND p.user_id = c.user_id AND p.ts >= c.ts
                  AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                ORDER BY p.ts ASC, p.value ASC LIMIT 1) AS matched_ts_us,
               (SELECT p.value FROM events p
                WHERE p.event_type = 'purchase'
                  AND p.user_id = c.user_id AND p.ts >= c.ts
                  AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                ORDER BY p.ts ASC, p.value ASC LIMIT 1) AS matched_value
        FROM events c
        WHERE c.event_type = 'click'
    """,
    # Split-and-stitch must equal the single-window form exactly —
    # IDENTICAL oracle text to user_sessions, bound below after the
    # dict literal.
    "user_sessions": """
        WITH evsec AS (
            -- whole-second epoch, matching Spark's cast(ts AS long)
            SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, event_id, sec,
                   CASE WHEN sec - lag(sec) OVER w IS NULL
                             OR sec - lag(sec) OVER w > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM evsec
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, sec,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   max(sec) - min(sec) AS duration_sec
            FROM sess GROUP BY user_id, session_id
        )
        SELECT user_id,
               count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(max(duration_sec) AS BIGINT) AS max_session_sec
        FROM per_session GROUP BY user_id
    """,
}


# The skew-proof sessionizer's whole contract is "same answer as the
# plain window form" — one oracle, two physical strategies.
EVENTS_ORACLES["user_sessions_skewproof"] = EVENTS_ORACLES["user_sessions"]


def forget_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GDPR audit that closes the forget loop: after the three
    certified right-to-be-forgotten pipelines run (base-table delete,
    SCD2 history delete, near-dup manifest delete + re-decide), scan
    each PHYSICAL artifact for victim traces and report per artifact —
    total rows, victim rows (victim ids, or manifest rows whose
    dup_of points at a victim), and the clean verdict. The oracle
    states the LOGICAL expectation (complement recomputes, zero
    victims, clean=true), so a hash match certifies the physical
    artifacts hold exactly the complement — the compliance evidence a
    deletion request actually requires, as one queryable row per
    artifact. Scale: three independent artifact scans, each a
    partial-agg'd count — no joins, no shuffles beyond the 1-row
    aggs."""
    from .relational import FORGET_CUST_MOD, forget_customers_scd2
    from .textops import FORGET_DOC_MOD, forget_docs_neardup_manifest

    def audit(name: str, df: DataFrame, victim) -> DataFrame:
        return df.agg(
            F.lit(name).alias("artifact"),
            F.count("*").cast("long").alias("total_rows"),
            F.sum(F.when(victim, 1).otherwise(0))
            .cast("long")
            .alias("victim_rows"),
        )

    ev = audit(
        "events",
        forget_users_events(spark, sf_dir),
        F.col("user_id") % FORGET_MOD == 0,
    )
    scd = audit(
        "scd2_history",
        forget_customers_scd2(spark, sf_dir),
        F.col("custkey") % FORGET_CUST_MOD == 0,
    )
    man = audit(
        "neardup_manifest",
        forget_docs_neardup_manifest(spark, sf_dir),
        (F.col("doc_id") % FORGET_DOC_MOD == 0)
        | ((F.col("dup_of") != -1) & (F.col("dup_of") % FORGET_DOC_MOD == 0)),
    )
    return (
        ev.unionByName(scd)
        .unionByName(man)
        .select(
            "artifact",
            "total_rows",
            "victim_rows",
            (F.col("victim_rows") == 0).alias("clean"),
        )
    )


def _forget_audit_oracle_sql() -> str:
    """Logical expectation per artifact: complement row counts, zero
    victim rows, clean verdicts — embedded from the three forget
    oracles so the counts can never drift from the certified
    pipelines."""
    from .relational import RELATIONAL_ORACLES
    from .textops import TEXTOPS_ORACLES

    scd = RELATIONAL_ORACLES["forget_customers_scd2"]
    man = TEXTOPS_ORACLES["forget_docs_neardup_manifest"]
    return f"""
        SELECT 'events' AS artifact,
               (SELECT count(*) FROM events
                WHERE user_id % {FORGET_MOD} <> 0) AS total_rows,
               CAST(0 AS BIGINT) AS victim_rows, TRUE AS clean
        UNION ALL
        SELECT 'scd2_history',
               (SELECT count(*) FROM ({scd})),
               CAST(0 AS BIGINT), TRUE
        UNION ALL
        SELECT 'neardup_manifest',
               (SELECT count(*) FROM ({man})),
               CAST(0 AS BIGINT), TRUE
    """


EVENTS_ORACLES["forget_audit_report"] = _forget_audit_oracle_sql()
