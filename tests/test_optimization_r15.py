"""Round-15 optimization invariants: every behavior-adjacent change
this round pins its value identity here (the round-14 pattern)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_rpc_spark.plans import textops


def test_txlog_cdf_single_pass_diff(spark):
    """read_changes' signed-count multiset diff == the exceptAll pair
    it replaced, on the hard cases: nulls, NaN, -0.0 vs 0.0, and
    duplicate multiplicities on both sides."""
    rows_a = [
        (1, "a", 1.0), (1, "a", 1.0), (2, "b", float("nan")),
        (3, None, 2.0), (4, "d", -0.0), (5, "e", None),
        (5, "e", None), (5, "e", None),
    ]
    rows_r = [
        (1, "a", 1.0), (2, "b", float("nan")), (4, "d", 0.0),
        (6, "f", 9.9), (5, "e", None),
    ]
    a = spark.createDataFrame(rows_a, "k long, s string, v double")
    r = spark.createDataFrame(rows_r, "k long, s string, v double")
    cols = ["k", "s", "v"]
    _w, _n = "__cdf_w__", "__cdf_n__"
    net = (
        a.select(*cols, F.lit(1).alias(_w))
        .unionByName(r.select(*cols, F.lit(-1).alias(_w)))
        .groupBy(*cols)
        .agg(F.sum(_w).alias(_n))
    )
    ins = net.where(F.col(_n) > 0).select(
        *cols, F.explode(F.sequence(F.lit(1), F.col(_n))).alias("__i__")
    ).drop("__i__")
    dels = net.where(F.col(_n) < 0).select(
        *cols, F.explode(F.sequence(F.lit(1), -F.col(_n))).alias("__i__")
    ).drop("__i__")

    def key(df):
        return sorted(map(str, df.collect()))

    assert key(ins) == key(a.exceptAll(r))
    assert key(dels) == key(r.exceptAll(a))


def test_mmr_hof_matches_join_loop(spark):
    """mmr_rerank's single-pass HOF fold == the pre-round-15 per-step
    join/window/localCheckpoint loop on the hard cases: mmr ties
    (broken by smallest doc id), candidates with no sims row against
    the selected set (ms -> 0.0), a query with NO sims rows at all,
    and a query with fewer than k candidates (selection stalls)."""
    from pyspark.sql import Window
    from map_reduce_rpc_spark.operators.similarity import mmr_rerank

    def old_loop(short, sims, lam, k):
        short = (
            short.select("query_id", "neighbor_id", "rel")
            .localCheckpoint()
            .coalesce(1)
        )
        simsc = (
            sims.select("query_id", "a", "b", "sim")
            .localCheckpoint()
            .coalesce(1)
        )
        selected = short.select(
            "query_id",
            F.col("neighbor_id").alias("doc"),
            F.lit(0).alias("pick"),
            "rel",
            F.lit(0.0).alias("mmr"),
        ).limit(0)
        for t in range(1, k + 1):
            cand = short.join(
                selected.select("query_id", F.col("doc").alias("neighbor_id")),
                ["query_id", "neighbor_id"],
                "left_anti",
            )
            div = (
                simsc.join(
                    selected.select("query_id", F.col("doc").alias("b")),
                    ["query_id", "b"],
                )
                .groupBy("query_id", "a")
                .agg(F.max("sim").alias("ms"))
            )
            scored = cand.join(
                div.select("query_id", F.col("a").alias("neighbor_id"), "ms"),
                ["query_id", "neighbor_id"],
                "left",
            ).select(
                "query_id",
                "neighbor_id",
                "rel",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.coalesce(F.col("ms"), F.lit(0.0))
                ).alias("mmr"),
            )
            w = Window.partitionBy("query_id").orderBy(
                F.col("mmr").desc(), F.col("neighbor_id")
            )
            pick = (
                scored.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(
                    "query_id",
                    F.col("neighbor_id").alias("doc"),
                    F.lit(t).alias("pick"),
                    "rel",
                    "mmr",
                )
            )
            selected = selected.unionByName(pick).localCheckpoint().coalesce(1)
        return selected

    # q0: plain; q1: exact mmr tie between docs 11 and 12 at step 1
    # (no sims -> mmr = lam*rel, equal rel) -> smallest id wins; q2:
    # only 2 candidates with k=3 (stall); q3: no sims rows at all.
    short_rows = [
        (0, 1, 0.9), (0, 2, 0.8), (0, 3, 0.7), (0, 4, 0.65),
        (1, 11, 0.5), (1, 12, 0.5), (1, 13, 0.4),
        (2, 21, 0.9), (2, 22, 0.1),
        (3, 31, 0.6), (3, 32, 0.55), (3, 33, 0.5),
    ]
    sims_rows = [
        (0, 1, 2, 0.95), (0, 2, 1, 0.95), (0, 1, 3, 0.2),
        (0, 3, 1, 0.2), (0, 2, 3, 0.1), (0, 3, 2, 0.1),
        # 4 has no sims rows vs anyone -> ms always 0.0
        (1, 11, 12, 0.99), (1, 12, 11, 0.99), (1, 11, 13, 0.0),
        (1, 13, 11, 0.0), (1, 12, 13, 0.5), (1, 13, 12, 0.5),
        (2, 21, 22, 0.3), (2, 22, 21, 0.3),
    ]
    short = spark.createDataFrame(
        short_rows, "query_id long, neighbor_id long, rel double"
    )
    sims = spark.createDataFrame(
        sims_rows, "query_id long, a long, b long, sim double"
    )
    for lam, k in ((0.7, 3), (0.5, 4)):
        new = mmr_rerank(short, sims, lam=lam, k=k).collect()
        old = old_loop(short, sims, lam=lam, k=k).collect()
        def key(rows):
            return sorted((r["query_id"], r["pick"], r["doc"], r["rel"], r["mmr"]) for r in rows)
        assert key(new) == key(old), (lam, k)


def test_bpe_apply_merge_expr_matches_column_form(spark):
    """The parsed-SQL _bpe_apply_merge equals the pre-round-15
    Column-operator construction on merge edge cases (adjacent
    occurrences, constituents, reversed pairs, short arrays)."""
    def old_form(tcol, ma, mb):
        n = F.size(tcol)
        mapped = F.transform(
            F.sequence(F.lit(0), n - F.lit(1)),
            lambda i: F.when(
                (F.get(tcol, i) == ma) & (F.get(tcol, i + 1) == mb),
                F.concat(ma, mb),
            )
            .when(
                (F.get(tcol, i) == mb) & (F.get(tcol, i - 1) == ma),
                F.lit(None).cast("string"),
            )
            .otherwise(F.get(tcol, i)),
        )
        return F.when(
            n >= 2, F.filter(mapped, lambda x: x.isNotNull())
        ).otherwise(tcol)

    toks = [
        ["a", "b"], ["a", "b", "a", "b"], ["a", "b", "b"],
        ["a", "a", "b"], ["b", "a", "b", "a"], ["x", "a", "b", "y"],
        ["b", "a"], ["a"], [],
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "i long, t array<string>"
    )
    got = df.select(
        "i",
        textops._bpe_apply_merge("t", "'a'", "'b'").alias("new"),
        old_form(F.col("t"), F.lit("a"), F.lit("b")).alias("old"),
    ).collect()
    for row in got:
        assert row["new"] == row["old"], row


def test_bpe_pair_explode_expr_matches_column_form(spark):
    """_BPE_PAIR_EXPLODE (SQL string) == the old F.struct/F.get
    transform on the same arrays."""
    toks = [["a", "b", "c"], ["x", "x"], ["p", "q", "p", "q"], ["lone", "z"]]
    df = spark.createDataFrame([(t,) for t in toks], "t array<string>")
    new = df.select(F.expr(textops._BPE_PAIR_EXPLODE).alias("p")).select(
        "p.a", "p.b"
    )
    old = df.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - F.lit(2)),
                lambda i: F.struct(
                    F.get("t", i).alias("a"), F.get("t", i + 1).alias("b")
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )
