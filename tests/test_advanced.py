"""Round-2 operator additions: range join, hypertable rollup, TF-IDF,
quality filter, domain-mixture sampling, global shuffle — each vs its
DuckDB oracle, plus semantic invariants the oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle import registry_run

KEYS = [
    "range_join_hot_windows",
    "hypertable_rollup",
    "tfidf_top_terms",
    "quality_filter",
    "domain_mix_sample",
    "global_shuffle",
    "redact_pii",
    "curation_pipeline",
]


@pytest.mark.parametrize("name", KEYS)
def test_advanced_query_matches_oracle(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_ok()


def test_hypertable_rollup_conserves_totals(spark, sf_dir):
    """Every resolution of the rollup cascade must conserve the grand
    totals — re-aggregating partials loses nothing."""
    from map_reduce_rpc_spark.plans.events import hypertable_rollup

    df = hypertable_rollup(spark, sf_dir)
    totals = (
        df.groupBy("resolution")
        .agg(F.sum("n_events").alias("n"), F.sum("sum_cents").alias("c"))
        .collect()
    )
    assert len(totals) == 3
    ns = {r.resolution: (r.n, r.c) for r in totals}
    assert ns["hour"] == ns["day"] == ns["week"]


def test_range_join_windows_overlap_counts(spark, sf_dir):
    """Overlapping intervals must multi-count shared events: the sum of
    per-window counts >= the distinct-event count of the union span."""
    from map_reduce_rpc_spark.plans.events import range_join_hot_windows

    rows = range_join_hot_windows(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r.n_events > 0 for r in rows)
    # window spans exactly [w_start, w_end) of 2 hours
    assert all((r.w_end - r.w_start).total_seconds() == 7200 for r in rows)


def test_global_shuffle_is_permutation(spark, sf_dir):
    """Positions are exactly 1..N with no gaps or dups (the two-phase
    bucket rank composes correctly)."""
    from map_reduce_rpc_spark.plans.sampling import global_shuffle

    df = global_shuffle(spark, sf_dir)
    n = df.count()
    stats = df.agg(
        F.min("position").alias("lo"),
        F.max("position").alias("hi"),
        F.countDistinct("position").alias("d"),
    ).first()
    assert (stats.lo, stats.hi, stats.d) == (1, n, n)


def test_domain_mix_flattens_skew(spark, sf_dir):
    """After temperature sampling, the largest/smallest domain ratio
    must shrink versus the raw corpus (that's the point of the op)."""
    from map_reduce_rpc_spark.plans.sampling import domain_mix_sample
    from map_reduce_rpc_spark.tables import load_table

    raw = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .collect()
    )
    kept = domain_mix_sample(spark, sf_dir).groupBy("lang").count().collect()
    raw_ratio = max(r["count"] for r in raw) / min(r["count"] for r in raw)
    kept_ratio = max(r["count"] for r in kept) / min(r["count"] for r in kept)
    assert kept_ratio <= raw_ratio


def test_quality_filter_reason_precedence(spark):
    """Reason codes follow the documented precedence on crafted rows."""
    from map_reduce_rpc_spark.plans import textops

    docs = spark.createDataFrame(
        [
            (1, "tiny text"),  # < 10 tokens
            (2, " ".join(["1234567"] * 40)),  # no letter tokens -> too_short
            (3, " ".join(["the"] * 11) + " 999999999999999999999999"),  # digits
            (4, "THE QUICK BROWN FOX " * 10),  # upper-heavy
            (5, ("the cat sat on a mat and it was good " * 3).strip()),  # ok
        ],
        ["doc_id", "text"],
    )
    # reuse the registered plan body by monkey-loading the table
    from map_reduce_rpc_spark.functions.text import quality_signals

    sig = quality_signals(F.col("text"))
    reason = (
        F.when(sig["n_tokens"] < textops.QF_MIN_TOKENS, F.lit("too_short"))
        .when(sig["n_tokens"] > textops.QF_MAX_TOKENS, F.lit("too_long"))
        .when(sig["digit_ratio"] > textops.QF_MAX_DIGIT_RATIO, F.lit("digit_heavy"))
        .when(sig["upper_ratio"] > textops.QF_MAX_UPPER_RATIO, F.lit("upper_heavy"))
        .when(
            sig["stopword_ratio"] < textops.QF_MIN_STOPWORD_RATIO,
            F.lit("no_stopwords"),
        )
        .when(
            sig["mean_token_len"] < textops.QF_MIN_MEAN_TOKEN_LEN,
            F.lit("short_tokens"),
        )
        .when(
            sig["mean_token_len"] > textops.QF_MAX_MEAN_TOKEN_LEN,
            F.lit("long_tokens"),
        )
        .otherwise(F.lit("ok"))
    )
    got = {r.doc_id: r.reason for r in docs.select("doc_id", reason.alias("reason")).collect()}
    assert got[1] == "too_short"
    assert got[2] == "too_short"  # digit runs aren't letter tokens
    assert got[3] == "digit_heavy"
    assert got[4] == "upper_heavy"
    assert got[5] == "ok"


def test_tfidf_ranks_are_dense_topk(spark, sf_dir):
    """Each doc gets at most TFIDF_TOPK rows with ranks 1..k."""
    from map_reduce_rpc_spark.plans.textops import TFIDF_TOPK, tfidf_top_terms

    df = tfidf_top_terms(spark, sf_dir)
    per_doc = df.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.min("rank").alias("lo"),
        F.max("rank").alias("hi"),
    )
    bad = per_doc.where(
        (F.col("n") > TFIDF_TOPK)
        | (F.col("lo") != 1)
        | (F.col("hi") != F.col("n"))
    ).count()
    assert bad == 0


def test_redact_pii_scrubs_everything(spark, sf_dir):
    """Every doc carries the synthetic contact line, so each PII class
    must hit at least once per row — and re-scanning the redacted text
    must find zero residual matches (checked by rebuilding the redacted
    string and counting)."""
    from map_reduce_rpc_spark.plans import textops

    df = textops.redact_pii(spark, sf_dir)
    bad = df.where(
        (F.col("n_emails") < 1) | (F.col("n_phones") < 1) | (F.col("n_ips") < 1)
    ).count()
    assert bad == 0
    # residual check: redact, then count again on the redacted text
    from map_reduce_rpc_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), textops.PII_EMAIL_RE, "<EMAIL>"),
            textops.PII_PHONE_RE,
            "<PHONE>",
        ),
        textops.PII_IP_RE,
        "<IP>",
    )
    residual = docs.select(
        (
            F.regexp_count(red, F.lit(textops.PII_EMAIL_RE))
            + F.regexp_count(red, F.lit(textops.PII_PHONE_RE))
            + F.regexp_count(red, F.lit(textops.PII_IP_RE))
        ).alias("n")
    ).agg(F.sum("n")).first()[0]
    assert residual == 0


def test_curation_pipeline_manifest_invariants(spark, sf_dir):
    """One row per document; split present iff kept; statuses from the
    closed vocabulary; exactly the doc_id%DECON_MOD==0 docs held out as
    benchmark."""
    from map_reduce_rpc_spark.plans import textops
    from map_reduce_rpc_spark.tables import load_table

    df = textops.curation_pipeline(spark, sf_dir).cache()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert df.count() == n_docs
    assert df.select("doc_id").distinct().count() == n_docs
    allowed = {
        "benchmark", "kept", "duplicate", "contaminated",
        "too_short", "too_long", "digit_heavy", "upper_heavy",
        "no_stopwords", "short_tokens", "long_tokens",
    }
    got = {r.status for r in df.select("status").distinct().collect()}
    assert got <= allowed
    assert df.where((F.col("status") == "kept") & F.col("split").isNull()).count() == 0
    assert df.where((F.col("status") != "kept") & F.col("split").isNotNull()).count() == 0
    n_bench = df.where(F.col("status") == "benchmark").count()
    assert n_bench == load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % textops.DECON_MOD) == 0
    ).count()
    df.unpersist()


GOPHER_KEYS = ["gopher_rules", "containment_dups"]


@pytest.mark.parametrize("name", GOPHER_KEYS)
def test_round4_queries_match_oracle(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_ok()


def test_gopher_rules_semantics(spark, tmp_path):
    """Each rule trips on a purpose-built document."""
    from map_reduce_rpc_spark.plans import textops

    good = (
        "the quick brown fox and the lazy dog have been seen with many "
        "other animals that wander through fields of tall grass " * 5
    )
    rows = [
        (0, good),                                   # passes everything
        (1, "too short to have fifty words"),        # word count
        (2, good + " ###### " * 40),                 # symbol ratio (#)
        (3, "\n".join("- bullet item " + good[:40] for _ in range(10))),
        (4, "\n".join(good[:40] + "..." for _ in range(10))),  # ellipsis lines
        (5, " ".join("12345" for _ in range(100))),  # no alpha words + stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import map_reduce_rpc_spark.tables as tables

    orig = tables.load_table
    try:
        tables_load = lambda sp, sf, name: docs  # noqa: E731
        textops.load_table = tables_load
        out = {r["doc_id"]: r for r in textops.gopher_rules(spark, "unused").collect()}
    finally:
        textops.load_table = orig
    assert out[0]["keep"]
    assert not out[1]["ok_word_count"]
    assert not out[2]["ok_symbol_ratio"]
    assert not out[3]["ok_bullet_lines"]
    assert not out[4]["ok_ellipsis_lines"]
    assert not out[5]["ok_alpha_words"] and not out[5]["ok_stopwords"]
