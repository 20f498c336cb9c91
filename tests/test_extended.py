"""Extended operator coverage: as-of join, percentiles, window frames,
cube, rolling hash — each vs its DuckDB oracle."""

from __future__ import annotations

import pytest

from tests.oracle import registry_run

KEYS = [
    "purchase_asof_click",
    "order_price_percentiles",
    "daily_revenue_moving",
    "cube_sales",
    "rolling_fingerprints",
    "dup_clusters",
    "chunk_documents",
    "doc_repetition",
]


def test_connected_components_known_graph(spark):
    """CC on a hand-built graph: two components, each labeled by its
    min node id (the keeper a near-dup dedup keeps)."""
    from map_reduce_rpc_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (3, 4)], ["id_a", "id_b"]
    )
    rows = {r.node: r.component for r in connected_components(edges).collect()}
    assert rows == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


@pytest.mark.parametrize("name", KEYS)
def test_extended_query_matches_oracle(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_ok()


def test_asof_tolerance(spark, sf_dir):
    """Tolerance bounds the match window: tightening it can only null
    out matches, never change them."""
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.operators.asof import asof_join_backward
    from map_reduce_rpc_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("pts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("cts"), "value"
    )
    loose = asof_join_backward(purchases, clicks, "user_id", "pts", "cts", ["value"])
    hour_us = 3600 * 1_000_000
    tight = asof_join_backward(
        purchases, clicks, "user_id", "pts", "cts", ["value"], tolerance_us=hour_us
    )
    lm = {r.event_id: r.matched_ts_us for r in loose.collect()}
    tm = {r.event_id: (r.matched_ts_us, r.pts) for r in tight.collect()}
    n_matched = n_nulled = 0
    for k, (mts, pts) in tm.items():
        if mts is not None:
            n_matched += 1
            assert mts == lm[k]
            assert pts - mts <= hour_us
        elif lm[k] is not None:
            n_nulled += 1
            assert lm[k] < pts - hour_us  # nulled only when out of window
    assert n_matched > 0 and n_nulled > 0


def test_approx_distinct_within_error_bound(spark, sf_dir):
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["approx_distinct_users"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0
        assert r.within_bound is True
