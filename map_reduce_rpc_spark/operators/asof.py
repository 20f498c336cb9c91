"""As-of (temporal) join — an operator Spark's built-in join set lacks.

Semantics: for each left row, attach the payload of the latest right
row with the same key and ``right_ts <= left_ts`` (backward as-of,
DuckDB ``ASOF JOIN`` / pandas ``merge_asof`` semantics), optionally
bounded by a tolerance. Ties on the right timestamp resolve to the
greatest payload (deterministic total order).

Implementation is the union-and-fill pattern, NOT a range join:
tag both sides, union, and run one window pass per key carrying the
last non-null payload forward. Cost at 100 TB: a single shuffle on the
key + a sort within partitions — same shape as any groupBy, with no
pair blowup and no per-key cross product; skewed keys are split by
AQE like any other shuffle. A broadcast-range join would be the
alternative only when the right side is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
) -> tuple[DataFrame, list[str]]:
    """Shared construction for every as-of direction: tag both sides,
    pack the right payload into one orderable struct, union. Returns
    (union, original left column names)."""
    payload_t = F.struct(
        F.col(right_ts).alias("_pt"), *[F.col(c).alias(c) for c in payload_cols]
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_t"),
        payload_t.alias("_payload"),
        F.lit(1).alias("_is_r"),
    )
    left_cols = [c for c in left.columns]
    l = left.select(
        *left_cols,
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.lit(0).alias("_is_r"),
    )
    return l.unionByName(r, allowMissingColumns=True), left_cols


# Window specs shared by the directional fills. Both are GROWING
# [unbounded preceding, current] frames — Spark evaluates those
# incrementally in O(rows); an [current, unbounded following] frame
# would be recomputed per row (O(rows^2) on a hot key), so the forward
# direction reverses the SORT instead of the frame.
def _w_backward():
    """Ascending scan: at equal _t the right row sorts first (desc
    _is_r), so <= is inclusive; ``last`` non-null payload = max
    (ts, payload) among prior right rows."""
    return (
        Window.partitionBy("_k")
        .orderBy(F.col("_t"), F.col("_is_r").desc(), F.col("_payload"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def _w_forward():
    """DESCENDING scan: rows with the greatest _t come first, so the
    growing frame at a left row holds exactly the rows with
    _t >= left._t; at equal _t the right row still sorts first (desc
    _is_r under a desc scan), keeping >= inclusive. ``last`` non-null
    payload = min (ts, payload) among subsequent right rows (payload
    desc puts the least payload nearest the frame end)."""
    return (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").desc(), F.col("_is_r").desc(), F.col("_payload").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tolerance_us: int | None = None,
) -> DataFrame:
    """Backward as-of join on long-microsecond timestamp columns.

    Returns every left row + ``matched_ts_us`` + ``matched_<c>`` for
    each payload column (nulls when no prior right row, or none within
    ``tolerance_us``).
    """
    u, left_cols = _tagged_union(left, right, on, left_ts, right_ts, payload_cols)
    filled = u.withColumn(
        "_m", F.last("_payload", ignorenulls=True).over(_w_backward())
    ).where(F.col("_is_r") == 0)

    matched = F.col("_m")
    if tolerance_us is not None:
        matched = F.when(
            F.col("_t") - F.col("_m._pt") <= F.lit(tolerance_us), F.col("_m")
        )
    out_cols = [F.col(c) for c in left_cols]
    out_cols.append(matched.getField("_pt").alias("matched_ts_us"))
    for c in payload_cols:
        out_cols.append(matched.getField(c).alias(f"matched_{c}"))
    return filled.select(*out_cols)


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tolerance_us: int | None = None,
) -> DataFrame:
    """Forward as-of join: for each left row, the EARLIEST right row
    with the same key and ``right_ts >= left_ts`` (pandas
    ``merge_asof(direction='forward')`` semantics), optionally bounded
    by ``tolerance_us``. Ties on the right timestamp resolve to the
    least payload — the ascending mirror of the backward variant's
    greatest-payload rule, so both are total and deterministic.

    Same union-and-fill shape as the backward join (one shuffle on the
    key + one in-partition sort); only the SORT direction flips — the
    frame stays the growing [unbounded preceding, current] kind, which
    Spark evaluates incrementally (a [current, following] frame would
    be recomputed per row: O(rows^2) on a hot key).
    """
    u, left_cols = _tagged_union(left, right, on, left_ts, right_ts, payload_cols)
    filled = u.withColumn(
        "_m", F.last("_payload", ignorenulls=True).over(_w_forward())
    ).where(F.col("_is_r") == 0)

    matched = F.col("_m")
    if tolerance_us is not None:
        matched = F.when(
            F.col("_m._pt") - F.col("_t") <= F.lit(tolerance_us), F.col("_m")
        )
    out_cols = [F.col(c) for c in left_cols]
    out_cols.append(matched.getField("_pt").alias("matched_ts_us"))
    for c in payload_cols:
        out_cols.append(matched.getField(c).alias(f"matched_{c}"))
    return filled.select(*out_cols)


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tolerance_us: int | None = None,
) -> DataFrame:
    """Nearest as-of join: for each left row, the right row minimizing
    ``|right_ts - left_ts|`` (within ``tolerance_us`` when given);
    an exact distance tie prefers the BACKWARD (<=) candidate. Built
    as the backward and forward fills over one tagged union — a single
    shuffle on the key feeding two window passes (two in-partition
    sorts, no second exchange: both windows partition by the same key;
    both frames are the incremental growing kind, see _w_forward).
    """
    u, left_cols = _tagged_union(left, right, on, left_ts, right_ts, payload_cols)
    filled = (
        u.withColumn("_mb", F.last("_payload", ignorenulls=True).over(_w_backward()))
        .withColumn("_mf", F.last("_payload", ignorenulls=True).over(_w_forward()))
        .where(F.col("_is_r") == 0)
    )

    db = F.col("_t") - F.col("_mb._pt")
    df_ = F.col("_mf._pt") - F.col("_t")
    if tolerance_us is not None:
        in_b = F.col("_mb").isNotNull() & (db <= F.lit(tolerance_us))
        in_f = F.col("_mf").isNotNull() & (df_ <= F.lit(tolerance_us))
    else:
        in_b = F.col("_mb").isNotNull()
        in_f = F.col("_mf").isNotNull()
    # backward wins exact ties (db <= df_) — a fixed, documented rule
    # so the operator (and its SQL oracle) is deterministic
    matched = (
        F.when(in_b & in_f, F.when(db <= df_, F.col("_mb")).otherwise(F.col("_mf")))
        .when(in_b, F.col("_mb"))
        .when(in_f, F.col("_mf"))
    )
    out_cols = [F.col(c) for c in left_cols]
    out_cols.append(matched.getField("_pt").alias("matched_ts_us"))
    for c in payload_cols:
        out_cols.append(matched.getField(c).alias(f"matched_{c}"))
    return filled.select(*out_cols)

