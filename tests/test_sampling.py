"""Dataset-management ops: deterministic splits, stratified cap,
sequence packing, profiling — oracle matches + semantic properties."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from map_reduce_rpc_spark.plans.sampling import PACK_BUDGET, STRATUM_CAP
from tests.oracle import registry_run

KEYS = ["split_assign", "stratified_sample", "pack_sequences", "table_profile"]


@pytest.mark.parametrize("key", KEYS)
def test_matches_oracle(spark, duck, sf_dir, key):
    registry_run(spark, duck, sf_dir, key).assert_ok()


def test_split_fractions_and_stability(spark, sf_dir):
    """~80/10/10 split; membership depends only on doc_id, so it is
    stable under re-runs and data appends."""
    df = entry_mod.queries()["split_assign"](spark, sf_dir)
    counts = {r.split: r.n for r in df.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    total = sum(counts.values())
    assert 0.72 <= counts["train"] / total <= 0.88
    assert 0.05 <= counts["val"] / total <= 0.16
    assert 0.05 <= counts["test"] / total <= 0.16
    again = {r.split: r.n for r in entry_mod.queries()["split_assign"](spark, sf_dir)
             .groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert counts == again


def test_stratified_cap_enforced(spark, sf_dir):
    df = entry_mod.queries()["stratified_sample"](spark, sf_dir)
    per = df.groupBy("lang").count().collect()
    assert per and all(r["count"] <= STRATUM_CAP for r in per)


def test_pack_sequences_invariants(spark, sf_dir):
    """Every sequence except possibly the last crosses the budget once
    its final doc lands; docs stay in id order within a sequence."""
    rows = sorted(
        entry_mod.queries()["pack_sequences"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    assert rows
    seq_tok: dict[int, int] = {}
    prev_seq = 0
    for r in rows:
        assert r.seq_id >= prev_seq  # monotone over doc order
        prev_seq = r.seq_id
        seq_tok[r.seq_id] = seq_tok.get(r.seq_id, 0) + r.n_tok
    last = max(seq_tok)
    for sid, tok in seq_tok.items():
        if sid != last:
            assert tok >= PACK_BUDGET - max(seq_tok.values())  # fills before rolling over
    # the running sum partitioning is exact: bin of each doc's start
    cum = 0
    for r in rows:
        assert r.seq_id == cum // PACK_BUDGET
        cum += r.n_tok


def test_weighted_sample_prefers_heavy_docs(spark):
    """A-ES must actually bias by weight: the mean token-weight of the
    sampled docs exceeds the corpus mean (inclusion probability grows
    with w), while every source still contributes and no source
    exceeds K rows. Runs at sf0.1 — the only shipped SF where
    K x n_sources is well below the corpus, so selection is real (at
    smaller SFs the sample is the whole corpus and the bias property
    is vacuous; correctness there is covered by the oracle compare)."""
    sf_dir = "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.plans.sampling import (
        WEIGHTED_SAMPLE_K,
        weighted_source_sample,
    )
    from map_reduce_rpc_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ntok = F.greatest(
        F.lit(1),
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")),
    )
    corpus_mean = docs.agg(F.avg(ntok)).first()[0]
    got = weighted_source_sample(spark, sf_dir)
    rows = got.collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    n_sources = docs.select("source").distinct().count()
    assert len(by_source) == n_sources
    assert all(len(v) <= WEIGHTED_SAMPLE_K for v in by_source.values())
    sample_mean = sum(r["weight_tokens"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_split_token_drift_bounds_and_self_consistency(spark, sf_dir):
    """tv_ppm is a total-variation distance in ppm: bounded [0, 1e6];
    every surviving language has tokens in BOTH splits (the totals
    filter is the div-by-zero guard); and the token totals reconcile
    with a direct count of the train+val token population."""
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.functions.text import tokens
    from map_reduce_rpc_spark.plans.sampling import split_token_drift
    from map_reduce_rpc_spark.tables import load_table

    rows = split_token_drift(spark, sf_dir).collect()
    assert rows, "no language survived the both-splits filter"
    for r in rows:
        assert 0 <= r["tv_ppm"] <= 1_000_000, r
        assert r["train_tokens"] > 0 and r["val_tokens"] > 0, r
        assert r["distinct_tokens"] > 0, r
    docs = load_table(spark, sf_dir, "documents")
    total_all = docs.select(
        F.explode(tokens("text")).alias("t"), "lang"
    ).count()
    # train+val token mass can't exceed the corpus-wide token count
    assert sum(r["train_tokens"] + r["val_tokens"] for r in rows) <= total_all


def test_interp_values_lie_between_neighbors(spark, sf_dir):
    """Every interpolated (not observed) hour's cents must lie within
    [min(prev, next), max(prev, next)] of its observed neighbors, and
    observed hours must carry their exact rollup value — the
    definition of linear interpolation, checked independently of the
    DuckDB hash match."""
    from map_reduce_rpc_spark.plans.events import events_hourly_interp

    rows = events_hourly_interp(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    n_interp = 0
    for series in by_type.values():
        series.sort(key=lambda r: r["hour"])
        obs_idx = [i for i, r in enumerate(series) if r["was_observed"]]
        for i, r in enumerate(series):
            if r["was_observed"]:
                continue
            n_interp += 1
            # nearest observed neighbors by index
            pj = max(j for j in obs_idx if j < i)
            nj = min(j for j in obs_idx if j > i)
            pv, nv = series[pj]["cents"], series[nj]["cents"]
            lo, hi = min(pv, nv), max(pv, nv)
            assert lo <= r["cents"] <= hi, (r, pv, nv)
    assert n_interp > 0, "no gap in the corpus — property is vacuous"
