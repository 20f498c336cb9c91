"""Relational query surface over the star schema.

The reference implements none of these (SURVEY.md §2.4 — no joins,
filters, windows, set ops, rollup, limits, or scalar function library
exist anywhere in its Go code); in this engine they are first-class,
declared with the DataFrame API so Catalyst provides predicate
pushdown, column pruning, join selection and AQE for free.

Numeric discipline for oracle hash-matching: money/discount doubles are
cast to exact DECIMAL before aggregation in BOTH engines, so sums are
order-independent and bit-identical; final results are cast back to
DOUBLE (a deterministic rounding of the same exact decimal on both
sides). Averages are computed as exact-sum / count in double, never via
engine-native avg-over-decimal (Spark and DuckDB disagree on its type).

Scale notes (100 TB):
- dimension joins (region/nation/supplier/part/customer) are broadcast
  — no shuffle of the fact table for them;
- fact-fact joins (orders x lineitem) shuffle on the join key; both
  sides partition on the same key so AQE can coalesce/skew-split;
- every aggregation below is partial-agg friendly (sum/count/min/max),
  so the shuffle carries one row per (partition, group), not per row;
- filters are literal predicates on scan columns -> parquet
  PushedFilters (verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table


def _dec(col, prec: str = "12,2"):
    return (F.col(col) if isinstance(col, str) else col).cast(f"decimal({prec})")


# ---------------------------------------------------------------------------
# aggregation / filter
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg with 8 aggregates, 2 group cols."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    charge = F.lit(1).cast("decimal(3,2)") + _dec("l_tax", "4,2")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("_sq"),
        F.sum(_dec("l_extendedprice")).alias("_sp"),
        F.sum(_dec("l_extendedprice") * disc).alias("_sd"),
        F.sum(_dec("l_extendedprice") * disc * charge).alias("_sc"),
        F.count("*").alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sp").cast("double").alias("sum_base_price"),
        F.col("_sd").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("_sp").cast("double") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective filter -> single global agg.
    All predicates reach the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount", "4,2"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


def _clustered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) a range-clustered copy of lineitem ordered
    by l_shipdate — the high-cardinality pruning layout
    ``sources/sinks.write_clustered_parquet`` provides. Each output
    file covers a narrow shipdate range, so footer min/max stats let a
    date-filtered reader skip whole files."""
    import os

    from ..sources.sinks import write_clustered_parquet
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        write_clustered_parquet(
            load_table(spark, sf_dir, "lineitem"),
            os.path.join(tmp, "lineitem"),
            ("l_shipdate",),
            files=16,
            mode="overwrite",
        )

    return os.path.join(
        derived_cache_dir(sf_dir, "clustered", ("lineitem",), build), "lineitem"
    )


def q6_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 over a RANGE-CLUSTERED lineitem layout: identical semantics
    (and oracle) to q6_forecast_revenue, but the scan reads the
    l_shipdate-clustered parquet copy, so the pushed shipdate range
    predicate skips whole files via footer min/max statistics instead
    of filtering after IO. At 100 TB this layout turns the 1-year
    shipdate slice into "open the files whose stats overlap
    [1996, 1997)" — the measured skip ratio is pytest-asserted in
    tests/test_scale.py::test_clustered_scan_skips_files.

    The clustered copy is byte-derived from the same rows, so all
    aggregates hash-match the plain-layout oracle."""
    path = _clustered_lineitem_path(spark, sf_dir)
    li = spark.read.parquet(path)
    f = li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount", "4,2"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


ZORDER_EPOCH = "1992-01-01"


def _zordered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) a Z-ORDERED lineitem copy clustered on
    (l_shipdate, l_quantity): the Morton-key layout
    (``sources/sinks.write_zordered_parquet``) gives BOTH columns
    footer-stat locality, where the 1-D range layout serves only
    l_shipdate. The min/max calibration is one tiny agg collected to
    the driver (4 scalars — the offline index-build contract)."""
    import os

    from ..sources.sinks import write_zordered_parquet
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        days = F.datediff(F.col("l_shipdate"), F.lit(ZORDER_EPOCH))
        lo = li.agg(
            F.min(days).alias("d0"),
            F.max(days).alias("d1"),
            F.min("l_quantity").alias("q0"),
            F.max("l_quantity").alias("q1"),
        ).first()
        write_zordered_parquet(
            li,
            os.path.join(tmp, "lineitem"),
            zcols=[days, F.col("l_quantity")],
            # empty corpus: min/max are NULL — calibrate to a zero
            # range (every row, i.e. none, clamps to cell 0)
            mins=[float(lo["d0"] or 0), float(lo["q0"] or 0)],
            maxs=[float(lo["d1"] or 0), float(lo["q1"] or 0)],
            bits=16,
            files=16,
            mode="overwrite",
        )

    return os.path.join(
        derived_cache_dir(sf_dir, "zorder", ("lineitem",), build), "lineitem"
    )


def q6_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 over a Z-ORDERED lineitem layout — the multi-dimension
    completion of q6_clustered_scan: the Morton key interleaves
    (l_shipdate, l_quantity), so the scan's pushed predicates on BOTH
    dimensions skip files via footer min/max stats. With the 1-D range
    layout the quantity predicate filters after IO in every file; here
    each file covers a hyper-rectangle, so the 2-D predicate opens
    only the files whose rectangle intersects it — at 100 TB the
    difference between pruning on one column and pruning on every
    clustered column (Delta/Iceberg OPTIMIZE ZORDER, as plain
    parquet). Skip ratios for both dimensions are pytest-measured in
    tests/test_scale.py::test_zorder_beats_range_clustering_on_second_dim.
    Identical rows -> identical aggregates -> the plain-layout oracle."""
    import glob
    import os

    path = _zordered_lineitem_path(spark, sf_dir)
    if glob.glob(os.path.join(path, "*.parquet")):
        li = spark.read.parquet(path)
    else:
        # empty corpus: the writer produced no data files (nothing to
        # cluster) — the plain table is the same zero rows
        li = load_table(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount", "4,2"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


SCD2_SPLIT = "1995-01-01"


def _scd2_history_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the SCD2 customer-priority history by
    INCREMENTALLY applying two change batches (orders split at
    {SCD2_SPLIT}) through ``operators/scd.scd2_merge_batch`` — so the
    certified artifact is the product of the CDC apply path, not a
    one-shot recompute; the oracle IS the one-shot recompute, which is
    the whole point."""
    import os

    from ..operators.scd import scd2_merge_batch
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        ch = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
        )
        history = os.path.join(tmp, "history")
        # an empty corpus writes no files at all — the dir must still
        # exist for readers
        os.makedirs(history)
        for batch in (
            ch.where(F.col("o_orderdate") < SCD2_SPLIT),
            ch.where(F.col("o_orderdate") >= SCD2_SPLIT),
        ):
            scd2_merge_batch(
                spark,
                history,
                batch,
                key="o_custkey",
                attr="o_orderpriority",
                ts="o_orderdate",
                seq="o_orderkey",
                partitions=8,
            )

    return os.path.join(
        derived_cache_dir(sf_dir, "scd2", ("orders",), build), "history"
    )


_SCD2_HIST_DDL = (
    "o_custkey bigint, o_orderpriority string, effective_from timestamp, "
    "effective_seq bigint, effective_to timestamp, is_current boolean"
)


def _read_scd2_history(spark: SparkSession, path: str) -> DataFrame:
    """Read the SCD2 history artifact, degrading to a typed empty
    frame when the builder had zero changes to apply (an empty corpus
    leaves no readable parquet — there is no schema to infer)."""
    import glob
    import os

    if glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return spark.read.parquet(path)
    return spark.createDataFrame([], _SCD2_HIST_DDL)


def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing dimension) history of each
    customer's order priority, built INCREMENTALLY: two change batches
    (orders before/after {SCD2_SPLIT}) applied through the CDC MERGE
    path (``operators/scd.scd2_merge_batch`` — re-expand affected
    keys, union, collapse, merge-upsert), then read back. The DuckDB
    oracle recomputes the history ONE-SHOT with window SQL over all
    orders, so a hash match certifies the incremental apply ==
    batch recompute identity — the correctness property every
    dimension-table CDC pipeline rests on. Per-batch cost is
    O(batch + touched keys' history), never O(history): the
    incremental-cost soak is tests/test_scd.py."""
    hist = _read_scd2_history(spark, _scd2_history_path(spark, sf_dir))
    return hist.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "effective_from",
        "effective_seq",
        "effective_to",
        "is_current",
    )


FORGET_CUST_MOD = 89  # forget every custkey % 89 == 0


def forget_customers_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagated into the SCD2 DIMENSION HISTORY
    (round-6 verdict item 6): deleting a customer from the facts is not
    enough when the slowly-changing-dimension history still holds every
    priority state they ever had. The base history artifact (built
    incrementally by the CDC path, see scd2_customer_priority) is
    copied to a forget-specific root and the victim cohort
    (custkey % {FORGET_CUST_MOD} == 0) is deleted through
    ``sources/sinks.merge_delete_parquet`` over the history's _kb
    hash-bucket layout — dynamic partition overwrite rewrites ONLY
    buckets containing a victim, so at 100 TB the forget cost is
    bounded by the victims' bucket spread, never the history.

    SCD2 rows are per-key independent (a customer's runs reference no
    other customer), so deleting a key's rows is EXACTLY a recompute
    without that key — which is what the DuckDB oracle does (the
    one-shot window recompute over orders with the cohort filtered
    out). A hash match therefore certifies base-equivalence: the
    history is indistinguishable from one built on a change log that
    never contained the victims. (Contrast the near-dup manifest,
    where cross-doc pointers force a bounded re-decide —
    plans/textops.forget_docs_neardup_manifest.)"""
    import glob
    import os
    import shutil

    from ..sources.sinks import merge_delete_parquet
    from ..tables import derived_cache_dir

    base = _scd2_history_path(spark, sf_dir)

    def build(tmp: str) -> None:
        history = os.path.join(tmp, "history")
        shutil.copytree(base, history)
        if glob.glob(os.path.join(history, "**", "*.parquet"), recursive=True):
            victims = (
                load_table(spark, sf_dir, "orders")
                .where(F.col("o_custkey") % FORGET_CUST_MOD == 0)
                .select("o_custkey")
                .distinct()
            )
            merge_delete_parquet(
                spark, history, victims, ("o_custkey",), ("_kb",)
            )

    path = os.path.join(
        derived_cache_dir(sf_dir, "scd2_forget", ("orders",), build), "history"
    )
    hist = _read_scd2_history(spark, path)
    return hist.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "effective_from",
        "effective_seq",
        "effective_to",
        "is_current",
    )


def pit_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 history — the feature-store
    join that keeps training data leak-free: each lineitem is joined to
    the customer-priority state that was in force AT ITS SHIP DATE
    (effective_from <= l_shipdate < effective_to), never to a later
    state (label leakage) or an earlier one (stale features). Ships
    after an order but before the customer's NEXT priority change keep
    the order-time state; ships after it pick up the newer state — the
    asymmetry that makes this a genuine temporal join rather than a
    re-read of the order row. Items shipped before the customer's
    first recorded state land in the 'NONE' bucket (left join).

    Plan shape: equi-join on custkey with the interval predicate as a
    residual — a keyed shuffle join, never a cartesian; SCD2 intervals
    partition time per key, so each fact matches at most one history
    row (no fan-out). Aggregated to revenue by then-current priority so
    the certified result is schema-stable."""
    hist = _read_scd2_history(spark, _scd2_history_path(spark, sf_dir)).select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderpriority").alias("pit_priority"),
        "effective_from",
        "effective_to",
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    facts = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_custkey", "l_shipdate", "l_extendedprice"
    )
    joined = facts.join(
        hist,
        (F.col("o_custkey") == F.col("h_custkey"))
        & (F.col("effective_from") <= F.col("l_shipdate"))
        & (
            F.col("effective_to").isNull()
            | (F.col("l_shipdate") < F.col("effective_to"))
        ),
        "left",
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("pit_priority"), F.lit("NONE")).alias("pit_priority")
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
        )
    )


TRI_TOP_NEIGHBORS = 10  # backbone: keep each node's top-10 support edges
DIFF_DELETE_MOD = 13  # snapshot v2 drops these keys
DIFF_UPDATE_MOD = 7  # ... reprices these
DIFF_INSERT_MOD = 11  # ... and adds a shifted twin of these


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff — the operator behind dataset versioning /
    CDC backfills: given two snapshots of the orders table, classify
    every key as added / removed / changed / unchanged and report
    per-class counts with key-range bounds. v2 is derived
    deterministically from v1 in BOTH engines (delete keys %
    {DIFF_DELETE_MOD}, reprice keys % {DIFF_UPDATE_MOD}, insert a
    key-shifted twin of keys % {DIFF_INSERT_MOD}), so the query stays
    a pure function of sf_dir.

    Plan shape: ONE full-outer join hash-partitioned on the key, then
    a partial-agged classify-and-count — at 100 TB both snapshots
    shuffle once (zero exchange if the snapshots are bucketed on the
    key, operators/scale.write_bucketed_table), and the changed-row
    test is a column compare inside codegen, no Python. Cents (exact
    ints) rather than float totals, so the hash match is exact.
    """
    v1 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        "o_orderstatus",
    )
    v2 = (
        v1.where(F.col("o_orderkey") % DIFF_DELETE_MOD != 0)
        .withColumn(
            "cents",
            F.when(
                F.col("o_orderkey") % DIFF_UPDATE_MOD == 0,
                F.col("cents") + 100,
            ).otherwise(F.col("cents")),
        )
        .unionByName(
            v1.where(F.col("o_orderkey") % DIFF_INSERT_MOD == 0).select(
                (F.col("o_orderkey") + F.lit(10**9)).alias("o_orderkey"),
                "cents",
                "o_orderstatus",
            )
        )
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    change_type = (
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .when(
            (F.col("a.cents") != F.col("b.cents"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    key = F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey"))
    return (
        j.select(change_type.alias("change_type"), key.alias("okey"))
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("okey").alias("min_key"),
            F.max("okey").alias("max_key"),
        )
    )


def _supplier_backbone(
    spark: SparkSession, sf_dir: str, top_t: int | None = None
) -> DataFrame:
    """Union-kNN backbone of the supplier co-occurrence graph: keep
    each node's top-{top_t} (default {TRI_TOP_NEIGHBORS}) edges by
    co-occurrence support (an edge survives if EITHER endpoint ranks
    it). Shared by the triangle / k-core / LPA queries (LPA thins to
    {LPA_TOP_NEIGHBORS} — on the denser default backbone mode-voting
    floods everything into one community and the algorithm degenerates
    to connected components); localCheckpointed because every consumer
    feeds it into multiple plan sites. (u, v) with u < v."""
    if top_t is None:
        top_t = TRI_TOP_NEIGHBORS
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    per_order = li.distinct()
    a, b = per_order.alias("a"), per_order.alias("b")
    support = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
    )
    wu = Window.partitionBy("u").orderBy(F.desc("support"), F.asc("v"))
    wv = Window.partitionBy("v").orderBy(F.desc("support"), F.asc("u"))
    return (
        support.withColumn("ru", F.row_number().over(wu))
        .withColumn("rv", F.row_number().over(wv))
        .where((F.col("ru") <= top_t) | (F.col("rv") <= top_t))
        .select("u", "v")
        .localCheckpoint()
    )


KCORE_K = 3
KCORE_ROUNDS = 4


def kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k={KCORE_K}) of the supplier co-occurrence
    backbone — the fourth graph-family algorithm (after connected
    components, PageRank, triangles): iteratively peel nodes of degree
    < k, then report each surviving node's degree inside the core
    subgraph. The community-density primitive under graph-based
    curation (keep densely-connected entities, drop peripheral ones).

    {KCORE_ROUNDS} FIXED peel rounds (operators/graph.kcore_truncated)
    keep every round replayable in the oracle's unrolled CTE chain;
    tests/test_graph.py runs one extra round and asserts an identical
    result, so on this data the truncated peel IS the converged
    k-core. Per round: one combiner'd degree count + two node-keyed
    semi joins. Output: (suppkey, core_deg)."""
    from ..operators.graph import kcore_truncated

    return kcore_truncated(
        _supplier_backbone(spark, sf_dir), k=KCORE_K, rounds=KCORE_ROUNDS
    ).select(F.col("u").alias("suppkey"), "core_deg")


BFS_SEED_SUPPS = (1, 2)
BFS_ROUNDS = 3


def bfs_hops_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance from a seed supplier set over the
    co-occurrence backbone — the sixth graph-family algorithm, and the
    REACHABILITY-with-distance question the other five don't answer
    (CC: connected at all; k-core: locally dense; PageRank: central;
    LPA: which region; triangles: how clustered). Curation use:
    "everything within k hops of a trusted/poisoned seed set" is the
    standard trust/contamination neighborhood query.

    {BFS_ROUNDS} synchronous frontier rounds (operators/graph.bfs_hops
    — frontier-only joins, so per-round shuffle tracks the frontier,
    not the reached set); hop numbers are first-seen = minimal, so the
    oracle unrolls every round as a CTE chain. Output: (suppkey, hops)
    for the reached set."""
    from ..operators.graph import bfs_hops

    return bfs_hops(
        _supplier_backbone(spark, sf_dir), seeds=BFS_SEED_SUPPS, rounds=BFS_ROUNDS
    ).select(F.col("node").alias("suppkey"), "hops")


LPA_ROUNDS = 3
# LPA runs on a THINNER union-kNN backbone than triangles/k-core: at
# top-10 the sf0.01 graph is dense enough that mode-voting floods all
# 100 nodes into one community (= what CC already answers); at top-3
# the same data yields 5 communities at sf0.01 / 47 at sf0.1, so the
# certification actually distinguishes LPA from reachability.
LPA_TOP_NEIGHBORS = 3


def label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation COMMUNITIES (k={LPA_ROUNDS} synchronous
    rounds, min-label tie-break) on the supplier co-occurrence
    backbone — the fifth graph-family algorithm, and the one that
    answers a different question from all four others: connected
    components say "reachable at all", k-core says "locally dense",
    PageRank says "globally central"; LPA says "which dense REGION
    do you belong to", splitting loosely-bridged clusters that CC
    necessarily merges. The graph-curation use is sharding: training
    docs/entities grouped by community can be co-partitioned so that
    downstream pairwise passes (dedup, contrastive sampling) stay
    intra-partition.

    Determinism: ties broken toward the smallest label (replacing the
    published algorithm's random tie-break) and a FIXED round count,
    so the DuckDB oracle replays every round as an unrolled CTE chain
    — the pagerank/kcore replay contract. Per-round plan shape: one
    node-keyed shuffle join + two combiner'd aggregations, no window
    (operators/graph.label_propagation docstring has the
    hot-node-safety argument). Output: (suppkey, community)."""
    from ..operators.graph import label_propagation

    return label_propagation(
        _supplier_backbone(spark, sf_dir, top_t=LPA_TOP_NEIGHBORS),
        rounds=LPA_ROUNDS,
    ).select(F.col("node").alias("suppkey"), "community")


def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the supplier co-occurrence BACKBONE — the
    classic MapReduce graph workload, third member of the graph family
    after connected components and PageRank. Output: one row
    (n_nodes, n_edges, n_triangles).

    The raw co-occurrence graph (two suppliers share an order) is
    near-COMPLETE on this schema — 453k of 500k possible edges at
    sf0.1 — and a complete graph has Theta(n^3) triangles, so counting
    on it is a wedge explosion by construction (the first cut of this
    query spent 12 s at sf0.1 on ~200M wedges). The standard
    network-science fix is BACKBONE SPARSIFICATION: keep each node's
    top-{TRI_TOP_NEIGHBORS} strongest edges by co-occurrence support
    (union-kNN graph — an edge survives if EITHER endpoint ranks it),
    then count triangles on the backbone. That caps edges at
    ~2*T*n and wedges at ~(2T)^2*n regardless of corpus density —
    the lever that makes triangle counting possible at 100 TB, where
    any co-occurrence graph over a dense domain saturates.

    Plan shape: pair support = one combiner'd groupBy of the
    orders-keyed self-join; the two top-T ranks are node-partitioned
    windows over the pair table; the wedge join + closing-edge
    semi-check run on the sparse backbone. Every join/window keys on
    a node id — hash-shuffled, AQE-skew-splittable. Degree
    orientation (low-degree endpoint first) is the further lever when
    the BACKBONE is skewed; id-orientation suffices here (union-kNN
    caps chosen-degree at 2T; a hub can exceed it only by being in
    many other nodes' top lists, which support ranking bounds in
    practice) and keeps the DuckDB oracle the identical three-way
    join. The backbone (edge list) is localCheckpointed because it
    feeds five plan sites and Catalyst rebuilds unshared subtrees
    (the audit counted 12 scans without it).
    """
    edges = _supplier_backbone(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    triangles = wedges.join(
        e3, (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v")), "semi"
    )
    nodes = edges.select(F.col("u").alias("n")).unionByName(
        edges.select(F.col("v").alias("n"))
    ).distinct()
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .crossJoin(edges.agg(F.count("*").alias("n_edges")))
        .crossJoin(triangles.agg(F.count("*").alias("n_triangles")))
    )

PR_ITERS = 3
PR_DAMPING = 0.85
PR_TOPK = 20


def _supplier_topk(supp_ranks: DataFrame, supplier: DataFrame) -> DataFrame:
    """Shared (s_suppkey, s_name, rank, rnk) top-k tail of the three
    PageRank-family queries. Round-8 (round-7 verdict item 6): top-k
    via orderBy().limit(k) = TakeOrderedAndProject (per-partition
    heaps + a k-row driver merge), NOT a global row_number window —
    the window form funnels EVERY ranked supplier through one
    partition before filtering; harmless at dimension cardinality, a
    straggler at 100x. The rnk column is then assigned over the
    already-limited k-row frame, so the one single-partition window
    that remains touches exactly k rows by construction."""
    top = (
        supp_ranks.join(F.broadcast(supplier), "s_suppkey")
        .select("s_suppkey", "s_name", "rank")
        .orderBy(F.col("rank").desc(), F.col("s_suppkey"))
        .limit(PR_TOPK)
    )
    w = Window.orderBy(F.col("rank").desc(), F.col("s_suppkey"))
    return top.withColumn("rnk", F.row_number().over(w))


def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier interaction graph (edge =
    customer ordered from supplier, via orders x lineitem; node ids
    disjoint as 2*custkey / 2*suppkey+1), {PR_ITERS} iterations at
    damping {PR_DAMPING}; top-{PR_TOPK} suppliers by rank. The second
    ITERATIVE algorithm certified end-to-end (after connected
    components): operators/graph.pagerank quantizes each message to an
    exact long so every iteration is bit-reproducible, and the DuckDB
    oracle replays all {PR_ITERS} iterations as an unrolled CTE chain
    (the kmeans-oracle pattern applied to graph iteration)."""
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # union_distinct=False: edges are distinct and the 2c / 2s+1 node
    # encodings are disjoint, so the symmetrized union is provably
    # duplicate-free — the operator's dedup exchange is an identity
    # and is skipped (operators/graph.pagerank docstring)
    ranks = pagerank(
        edges, iters=PR_ITERS, damping=PR_DAMPING, union_distinct=False
    )
    supp_ranks = ranks.where(F.col("node") % 2 == 1).select(
        ((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"),
        F.col("r").alias("rank"),
    )
    return _supplier_topk(supp_ranks, supplier)


def _pagerank_oracle_sql(
    iters: int = PR_ITERS, damping: float = PR_DAMPING, topk: int = PR_TOPK
) -> str:
    """Unrolled PageRank replay: sym edges -> degrees -> r0 ->
    [quantized contribs -> exact sum -> new rank]*iters -> supplier
    top-k. Generated (never hand-edited) so the SQL always mirrors the
    operator's constants. The damping literal is written as
    ``(1.0 - {damping})`` / ``{damping}`` so both engines evaluate the
    identical IEEE expression the Spark plan does."""
    from ..operators.graph import PR_QUANT

    q = float(PR_QUANT)
    ctes = [
        """e0 AS (
            SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        )""",
        "sym AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0)",
        "deg AS (SELECT a, count(*) AS deg FROM sym GROUP BY a)",
        "nodes AS (SELECT DISTINCT a AS node FROM sym)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        """r0 AS (
            SELECT node, 1.0 / (SELECT CAST(n AS DOUBLE) FROM nn) AS r
            FROM nodes
        )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
            SELECT sym.b AS node,
                   CAST(floor((r.r / deg.deg) * {q!r}) AS BIGINT) AS c
            FROM sym
            JOIN r{i - 1} r ON r.node = sym.a
            JOIN deg ON deg.a = sym.a
        )"""
        )
        ctes.append(
            f"s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node)"
        )
        ctes.append(
            f"""r{i} AS (
            SELECT nodes.node,
                   (1.0 - {damping!r}) / (SELECT CAST(n AS DOUBLE) FROM nn)
                   + {damping!r} * (CAST(coalesce(s{i}.s, 0) AS DOUBLE) / {q!r})
                       AS r
            FROM nodes LEFT JOIN s{i} ON s{i}.node = nodes.node
        )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
        SELECT s_suppkey, s_name, rank, rnk FROM (
            SELECT CAST((node - 1) / 2 AS BIGINT) AS s_suppkey, r AS rank,
                   row_number() OVER (ORDER BY r DESC, (node - 1) / 2) AS rnk
            FROM r{iters} WHERE node % 2 = 1
        ) t JOIN supplier USING (s_suppkey)
        WHERE rnk <= {topk}
    """
    )


def pagerank_directed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED PageRank over customer -> supplier edges with
    dangling-mass redistribution (suppliers have no out-edges, so ALL
    rank mass reaching them would otherwise leak every round —
    see operators/graph.pagerank_directed). Same node encoding,
    iterations, and top-{PR_TOPK} output as pagerank_suppliers, so the
    two queries certify the undirected and the general directed form
    side by side; the oracle additionally replays the per-iteration
    dangling scalar as a CTE."""
    from ..operators.graph import pagerank_directed

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # input_distinct=True: the edge build above already dedups, so the
    # operator's defensive distinct is an identity — skipped
    ranks = pagerank_directed(
        edges, iters=PR_ITERS, damping=PR_DAMPING, input_distinct=True
    )
    supp_ranks = ranks.where(F.col("node") % 2 == 1).select(
        ((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"),
        F.col("r").alias("rank"),
    )
    return _supplier_topk(supp_ranks, supplier)


PPR_SEED_CUSTS = (1, 2, 3)


def ppr_supplier_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier RECOMMENDATIONS for a seed customer cohort via
    personalized PageRank — random walk with restart on the
    BIDIRECTIONAL customer<->supplier bipartite graph (each purchase
    relation contributes both directed edges), teleporting to seed
    customers {PPR_SEED_CUSTS}. This is the P3 bipartite recommender:
    suppliers two hops out through shared purchasing patterns score
    high, suppliers popular only globally don't — the personalized
    complement of pagerank_directed_suppliers' global centrality.
    Same node encoding (2c / 2s+1), iteration count, damping, and
    top-{PR_TOPK} output shape as the other two PageRank queries;
    the oracle replays every iteration with the seed-conditional
    teleport as a literal IN list."""
    from ..operators.graph import pagerank_personalized

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rel = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = rel.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        rel.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = tuple(2 * c for c in PPR_SEED_CUSTS)
    # input_distinct=True: rel is distinct and the two directions use
    # disjoint id spaces, so the bidirectional union is duplicate-free
    # — the operator's defensive distinct is an identity, skipped
    ranks = pagerank_personalized(
        edges, seeds=seeds, iters=PR_ITERS, damping=PR_DAMPING,
        input_distinct=True,
    )
    supp_ranks = ranks.where(F.col("node") % 2 == 1).select(
        ((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"),
        F.col("r").alias("rank"),
    )
    return _supplier_topk(supp_ranks, supplier)


def _ppr_oracle_sql(
    iters: int = PR_ITERS, damping: float = PR_DAMPING, topk: int = PR_TOPK
) -> str:
    """Unrolled personalized-PageRank replay: bidirectional edge CTE,
    seed-conditional teleport column, per-iteration quantized in-sums
    and the exact dangling scalar (empty set on this graph — the CTE
    stays so the replay matches the operator's machinery), supplier
    top-k. Generated so constants always mirror the operator's."""
    from ..operators.graph import PR_QUANT

    q = float(PR_QUANT)
    seeds = ", ".join(str(2 * c) for c in PPR_SEED_CUSTS)
    p_seed = 1.0 / len(PPR_SEED_CUSTS)
    base = 1.0 - damping
    p_of = "CASE WHEN {alias}.node IN (" + seeds + f") THEN {p_seed!r} ELSE 0.0 END"
    ctes = [
        """rel AS (
            SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        )""",
        """e0 AS (
            SELECT c AS a, s AS b FROM rel
            UNION SELECT s AS a, c AS b FROM rel
        )""",
        "deg AS (SELECT a, count(*) AS deg FROM e0 GROUP BY a)",
        """nodes AS (
            SELECT a AS node FROM e0 UNION SELECT b AS node FROM e0
        )""",
        """dang AS (
            SELECT node FROM nodes
            WHERE node NOT IN (SELECT a FROM e0)
        )""",
        f"r0 AS (SELECT node, {p_of.format(alias='nodes')} AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
            SELECT e0.b AS node,
                   CAST(floor((r.r / deg.deg) * {q!r}) AS BIGINT) AS c
            FROM e0
            JOIN r{i - 1} r ON r.node = e0.a
            JOIN deg ON deg.a = e0.a
        )"""
        )
        ctes.append(
            f"s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node)"
        )
        ctes.append(
            f"""dm{i} AS (
            SELECT coalesce(sum(CAST(floor(r.r * {q!r}) AS BIGINT)), 0) AS dm
            FROM r{i - 1} r JOIN dang d ON d.node = r.node
        )"""
        )
        ctes.append(
            f"""r{i} AS (
            SELECT nodes.node,
                   {base!r} * {p_of.format(alias='nodes')}
                   + {damping!r} * (
                       CAST(coalesce(s{i}.s, 0) AS DOUBLE) / {q!r}
                       + CAST((SELECT dm FROM dm{i}) AS DOUBLE) / {q!r}
                         * {p_of.format(alias='nodes')}
                   ) AS r
            FROM nodes LEFT JOIN s{i} ON s{i}.node = nodes.node
        )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
        SELECT s_suppkey, s_name, rank, rnk FROM (
            SELECT CAST((node - 1) / 2 AS BIGINT) AS s_suppkey, r AS rank,
                   row_number() OVER (ORDER BY r DESC, (node - 1) / 2) AS rnk
            FROM r{iters} WHERE node % 2 = 1
        ) t JOIN supplier USING (s_suppkey)
        WHERE rnk <= {topk}
    """
    )


def _pagerank_directed_oracle_sql(
    iters: int = PR_ITERS, damping: float = PR_DAMPING, topk: int = PR_TOPK
) -> str:
    """Unrolled DIRECTED PageRank replay: out-degrees, per-iteration
    quantized in-sums AND the exact dangling-mass scalar, then the
    supplier top-k. Generated alongside _pagerank_oracle_sql so the
    two stay structurally comparable."""
    from ..operators.graph import PR_QUANT

    q = float(PR_QUANT)
    n_dbl = "(SELECT CAST(n AS DOUBLE) FROM nn)"
    ctes = [
        """e0 AS (
            SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        )""",
        "deg AS (SELECT a, count(*) AS deg FROM e0 GROUP BY a)",
        """nodes AS (
            SELECT a AS node FROM e0 UNION SELECT b AS node FROM e0
        )""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        """dang AS (
            SELECT node FROM nodes
            WHERE node NOT IN (SELECT a FROM e0)
        )""",
        f"r0 AS (SELECT node, 1.0 / {n_dbl} AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
            SELECT e0.b AS node,
                   CAST(floor((r.r / deg.deg) * {q!r}) AS BIGINT) AS c
            FROM e0
            JOIN r{i - 1} r ON r.node = e0.a
            JOIN deg ON deg.a = e0.a
        )"""
        )
        ctes.append(
            f"s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node)"
        )
        ctes.append(
            f"""dm{i} AS (
            SELECT coalesce(sum(CAST(floor(r.r * {q!r}) AS BIGINT)), 0) AS dm
            FROM r{i - 1} r JOIN dang d ON d.node = r.node
        )"""
        )
        ctes.append(
            f"""r{i} AS (
            SELECT nodes.node,
                   (1.0 - {damping!r}) / {n_dbl}
                   + {damping!r} * (
                       CAST(coalesce(s{i}.s, 0) AS DOUBLE) / {q!r}
                       + CAST((SELECT dm FROM dm{i}) AS DOUBLE) / {q!r} / {n_dbl}
                   ) AS r
            FROM nodes LEFT JOIN s{i} ON s{i}.node = nodes.node
        )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
        SELECT s_suppkey, s_name, rank, rnk FROM (
            SELECT CAST((node - 1) / 2 AS BIGINT) AS s_suppkey, r AS rank,
                   row_number() OVER (ORDER BY r DESC, (node - 1) / 2) AS rnk
            FROM r{iters} WHERE node % 2 = 1
        ) t JOIN supplier USING (s_suppkey)
        WHERE rnk <= {topk}
    """
    )


DPP_QUARTER = "1996-Q2"


def _month_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) a month-PARTITIONED copy of orders —
    the layout a 100 TB fact table actually ships with (one directory
    per ingestion month). Consumed by dpp_quarter_revenue, whose join
    prunes these partitions at RUNTIME via dynamic partition pruning.
    ~80 month partitions at any sf (the date domain is sf-invariant)."""
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        ).write.partitionBy("o_month").mode("overwrite").parquet(tmp)

    return derived_cache_dir(sf_dir, "dpp", ("orders",), build)


def dpp_quarter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING certified end-to-end — the runtime
    complement of the static PushedFilters the other layout queries
    prove: the fact side is month-partitioned parquet, the month
    dimension (derived, with a quarter attribute) is filtered to
    {DPP_QUARTER} and broadcast, and Catalyst injects the dim's month
    set into the fact scan as a runtime IN-subquery — only 3 of ~80
    partition directories are read, without any static month literal
    in the query. At 100 TB this is THE mechanism that makes
    dim-filtered fact queries cheap on date-partitioned lakes. The
    plan assertion (a `dynamicpruning` subquery on the fact scan +
    a partition-count cap) lives in tests/test_scale.py; this
    registered query certifies the ANSWER against the plain
    unpartitioned oracle. Output: per-month order count and revenue
    cents for the quarter."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        fact = spark.read.parquet(_month_partitioned_orders(spark, sf_dir))
    except AnalysisException:
        # zero-row source: partitionBy wrote only _SUCCESS (no footers
        # to infer from) — degrade to the typed empty result, the same
        # contract as merge_delete_parquet's footerless guard
        return spark.createDataFrame(
            [], "o_month string, n_orders long, revenue_cents long"
        )
    months = (
        load_table(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
        .distinct()
        .withColumn(
            "quarter",
            F.concat(
                F.substring("o_month", 1, 4),
                F.lit("-Q"),
                ((F.substring("o_month", 6, 2).cast("int") + 2) / 3)
                .cast("int")
                .cast("string"),
            ),
        )
    )
    dim = months.where(F.col("quarter") == DPP_QUARTER)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        fact.join(F.broadcast(dim), "o_month")
        .groupBy("o_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("revenue_cents"),
        )
    )


def _compacted_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per session+sf_dir) the compact-then-bucket layout
    pipeline of a long-lived ingestion table, and return the two
    catalog table names (customer, orders):

      1. orders is written FRAGMENTED (64 small files — what a
         streaming sink or fine-grained MERGE leaves behind),
      2. ``sources/sinks.compact_parquet_dir`` rewrites it to a
         handful of target-size files (the OPTIMIZE verb),
      3. the compacted copy is persisted BUCKETED by o_custkey
         (``operators/scale.write_bucketed_table``), customer
         likewise by c_custkey, so the downstream join plans with no
         Exchange on either side.

    The byte-level file-count and plan assertions live in
    tests/test_scale.py::test_compacted_bucketed_query_layout; the
    registered query hash-matches the plain-layout oracle, certifying
    the layout verbs end-to-end (round-5 verdict item 7). Bucket
    count is 8 locally; at 100 TB pick buckets ~ one core's worth of
    rows (e.g. 8192) and compaction per partition directory."""
    import hashlib
    import os

    from ..operators.scale import write_bucketed_table
    from ..sources.sinks import compact_parquet_dir
    from ..tables import scratch_dir

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    ct, ot = f"cust_bkt_{tag}", f"orders_bkt_{tag}"
    if not (spark.catalog.tableExists(ct) and spark.catalog.tableExists(ot)):
        root = scratch_dir("bkt", sf_dir)
        frag = os.path.join(root, "orders_frag")
        load_table(spark, sf_dir, "orders").repartition(64).write.parquet(frag)
        compact_parquet_dir(spark, frag, target_file_bytes=256 << 20)
        write_bucketed_table(
            spark.read.parquet(frag),
            ot,
            "o_custkey",
            8,
            os.path.join(root, "orders_bkt"),
        )
        write_bucketed_table(
            load_table(spark, sf_dir, "customer"),
            ct,
            "c_custkey",
            8,
            os.path.join(root, "cust_bkt"),
        )
    return ct, ot


def segment_order_stats_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment order stats over the compacted + bucketed
    layout built by :func:`_compacted_bucketed_tables`: the
    customer-orders equi-join reads two tables bucketed on the join
    key, so neither side shuffles before the join (only the tiny
    5-row segment agg exchanges). Results hash-match the plain-layout
    oracle — identical rows, different physical plan."""
    ct, ot = _compacted_bucketed_tables(spark, sf_dir)
    cust, orders = spark.table(ct), spark.table(ot)
    j = cust.join(orders, cust.c_custkey == orders.o_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("c_custkey").alias("n_customers"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )


def order_ship_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the one join type no other registered query
    exercises: per-day order placements vs lineitem shipments, keeping
    days that appear on EITHER side (early dates only ship nothing,
    late dates only place nothing). Shape at scale: two partial-agg'd
    shuffles on the date key feed one sort-merge full-outer join on
    already-reduced inputs (one row per date each side), so the outer
    join is over ~date-cardinality rows regardless of fact size.
    Output: (d, n_orders, n_shipments) with zeros for absent sides."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count("*").alias("n_orders"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").alias("d"))
        .agg(F.count("*").alias("n_shipments"))
    )
    return o.join(li, "d", "full_outer").select(
        "d",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("n_shipments"), F.lit(0)).alias("n_shipments"),
    )


LARGE_VOLUME_QTY = 280


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape, deliberately written through the SQL ENTRYPOINT
    (``spark.sql`` over registered temp views) rather than the
    DataFrame API: customer/order rows whose order's total quantity
    exceeds a threshold, via IN + GROUP BY/HAVING subquery. Exercises
    Catalyst's subquery rewrite (IN -> left-semi join) and proves the
    engine's SQL surface end to end — every other registered query
    declares its plan in DataFrame form. The oracle is the *identical*
    SQL string run by DuckDB, modulo nothing.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q18_SQL)


_Q18_SQL = f"""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS total_price,
           CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > {LARGE_VOLUME_QTY}
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + group on orders (TPC-H Q4 shape, no subquery)."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    return o.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (reference has none, SURVEY §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus); grand totals included.
    Group cols coalesced to 'ALL' so null markers hash identically."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )
    return agg.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "sum_qty",
        "n_rows",
    )


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with a non-hierarchical set list — (flag,status),
    (status), () — which neither ROLLUP nor CUBE can express. One scan,
    one shuffle: Spark expands the sets via Expand (each input row
    replicated once per set) before a single hash aggregate, so cost is
    O(sets) per row, not O(passes) over the table. ``grouping()`` flags
    disambiguate a genuine 'ALL' value from the aggregated marker."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("agg_flag"),
        F.grouping("l_linestatus").cast("int").alias("agg_status"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )
    return agg.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "agg_flag",
        "agg_status",
        "sum_qty",
        "n_rows",
    )


def pivot_line_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (oracle: conditional aggregation)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_fulfilled"})
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer x orders x lineitem revenue, top 10.

    Join strategy at scale: orders x lineitem is the fact-fact shuffle
    join on orderkey; customer is joined after the per-order rollup
    (aggregate-before-join keeps the big join slim), broadcast-able at
    dimension size. Ties broken by c_custkey so LIMIT is deterministic.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    rev_per_order = li.groupBy("l_orderkey").agg(
        F.sum(_dec("l_extendedprice") * disc).alias("_rev")
    )
    per_cust = (
        orders.join(rev_per_order, orders.o_orderkey == rev_per_order.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("_rev").alias("_rev"))
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("_rev").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join, dims broadcast, grouped by nation.

    customer x orders (shuffle on custkey) x lineitem (shuffle on
    orderkey) x supplier/nation/region (broadcast), with the Q5
    co-location predicate c_nationkey = s_nationkey.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.groupBy("r_name", "n_name")
        .agg(F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"))
    )


def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + per-customer aggregates; customers with no
    orders kept with zero counts (outer-join surface, SURVEY §2.4)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total_spent"
            ),
        )
    )
    return per


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS) -> count per nation: customers with no
    order in 1995H1."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
        )
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    no_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.join(F.broadcast(nation), no_orders.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


def segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (union / intersect / except — absent in the
    reference, SURVEY §2.4): customer keys that bought in 1996 AND are
    BUILDING-segment, minus those who ever placed a 'F' status order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    bought_96 = (
        orders.where(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    status_f = (
        orders.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return building.intersect(bought_96).exceptAll(status_f)


# ---------------------------------------------------------------------------
# windows / top-k
# ---------------------------------------------------------------------------


def parts_top3_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window; ties broken by p_partkey."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rank")
    )


def orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 orders by totalprice (TakeOrderedAndProject —
    no full sort at scale), deterministic tie-break on key."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def supplier_balance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + analytic windows: rank / dense_rank / lag / running sum
    per nation over supplier account balances."""
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        F.col("s_acctbal"),
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.coalesce(F.lag("s_suppkey", 1).over(w), F.lit(-1)).alias("prev_suppkey"),
        F.sum(_dec("s_acctbal")).over(run).cast("double").alias("running_bal"),
    )


def window_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution + offset window functions beyond the ranking set:
    ntile / percent_rank / cume_dist / lag / lead / nth_value and
    unbounded-frame first/last — one window spec reused so Spark plans
    a single sort per partition. Tie-broken by o_orderkey so every
    function is deterministic across engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.first("o_totalprice").over(full).alias("cheapest_in_pri"),
        F.last("o_totalprice").over(full).alias("dearest_in_pri"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_cheapest"),
    )


# ---------------------------------------------------------------------------
# scalar function library showcase
# ---------------------------------------------------------------------------


def scalar_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math / array scalar functions (the reference has
    no scalar library at all — only strconv/len inside UDFs, SURVEY
    §2.4). Every function chosen has identical semantics in DuckDB."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("pri_upper"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.length("o_orderpriority").alias("pri_len"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("pri_snake"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("o_month_start"),
        F.abs(F.col("o_totalprice") - 1000.0).alias("price_dist"),
        F.floor("o_totalprice").alias("price_floor"),
        F.ceil("o_totalprice").alias("price_ceil"),
        F.sqrt("o_totalprice").alias("price_sqrt"),
        F.split(F.col("o_orderpriority"), "-").getItem(1).alias("pri_word"),
        F.concat_ws("|", F.lit("P"), "o_orderpriority").alias("pri_tagged"),
    )


def order_line_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + higher-order-function surface: per order, the sorted
    line-number array, a csv projection of it, a fold (F.aggregate)
    over the first two lines' quantities, and a membership test.
    Deterministic element order (sort_array) keeps the double fold
    bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("lines"),
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("lq"),
    )
    return g.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.concat_ws(",", F.transform("lines", lambda x: x.cast("string"))).alias(
            "lines_csv"
        ),
        F.aggregate(
            F.slice("lq", 1, 2),
            F.lit(0.0),
            lambda acc, s: acc + s["l_quantity"],
        ).alias("qty_first2"),
        F.array_contains("lines", 3).alias("has_line3"),
    )


def returnflag_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-flag aggregates to (flag, measure,
    value) long form — the inverse of pivot_line_status."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_rows"], "measure", "val"
    )


def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers holding at least one order
    over 400k — completes the join-type inventory next to the anti
    join in customers_without_orders. Semi joins short-circuit on
    first match and never duplicate the probe side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (p25/p50/p75/p90) of order value per
    priority. ``percentile_disc`` returns an actual data value (no
    interpolation), so Spark and DuckDB agree bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_ord_pct")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90
        FROM _ord_pct
        GROUP BY o_orderpriority
        """
    )


_ROBUST_SQL_TMPL = """
    WITH med AS (
        SELECT o_orderpriority,
               count(*) AS n,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice)
                   AS median,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)
                 - percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)
                   AS iqr
        FROM {tbl} GROUP BY o_orderpriority
    ),
    dev AS (
        SELECT o.o_orderpriority, m.n, m.median, m.iqr,
               abs(o.o_totalprice - m.median) AS adev,
               o.o_totalprice
        FROM {tbl} o JOIN med m
          ON m.o_orderpriority = o.o_orderpriority
    ),
    mad AS (
        SELECT o_orderpriority, n, median, iqr,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY adev) AS mad
        FROM dev GROUP BY o_orderpriority, n, median, iqr
    )
    SELECT d.o_orderpriority, d.n, d.median, d.iqr, d.mad,
           CAST(sum(CASE WHEN abs(d2.o_totalprice - d.median)
                              > 3 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM mad d JOIN dev d2 ON d2.o_orderpriority = d.o_orderpriority
    GROUP BY d.o_orderpriority, d.n, d.median, d.iqr, d.mad
"""


def order_value_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust profiling statistics per priority — median, IQR, MAD
    (median absolute deviation), and a MAD-based outlier count: the
    outlier-detection recipe a data-quality gate runs where mean/std
    would be dragged by the very outliers it hunts. Needs TWO grouped
    passes by construction (MAD is a percentile OF deviations FROM a
    percentile); the median row broadcasts back onto the fact rows, so
    the table shuffles once per pass and never self-joins rows-to-rows.
    All three statistics are percentile_disc — actual data values, no
    interpolation — so both engines agree bit-for-bit and the outlier
    threshold (median ± 3·1.4826·MAD, the normal-consistent scale
    factor) compares identical doubles. One SQL template, two engines
    (the q18 contract)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_ord_robust")
    return spark.sql(_ROBUST_SQL_TMPL.format(tbl="_ord_robust"))


def approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch surface (``approx_percentile``, the
    t-digest-style mergeable sketch) made oracle-checkable, same
    pattern as the HLL query: the sketch's rank-error contract —
    accuracy=100 bounds rank error by 1/100 — is asserted IN the
    query by sandwiching each approximate quantile between the exact
    ``percentile_disc`` values at p±0.01, and the oracle asserts the
    verdict. Every compared value is an actual data point (both
    functions return observed values, no interpolation), so the check
    is FP-exact. At scale the sketch is the point: per-partition
    t-digests merge in O(compression) instead of a full sort."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_ord_apx")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               (  approx_percentile(o_totalprice, 0.50, 100)
                    BETWEEN percentile_disc(0.49) WITHIN GROUP (ORDER BY o_totalprice)
                        AND percentile_disc(0.51) WITHIN GROUP (ORDER BY o_totalprice)
                AND approx_percentile(o_totalprice, 0.90, 100)
                    BETWEEN percentile_disc(0.89) WITHIN GROUP (ORDER BY o_totalprice)
                        AND percentile_disc(0.91) WITHIN GROUP (ORDER BY o_totalprice)
                AND approx_percentile(o_totalprice, 0.99, 100)
                    BETWEEN percentile_disc(0.98) WITHIN GROUP (ORDER BY o_totalprice)
                        AND percentile_disc(1.00) WITHIN GROUP (ORDER BY o_totalprice)
               ) AS within_bound
        FROM _ord_apx
        GROUP BY o_orderpriority
        """
    )


def daily_revenue_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames + analytics over the daily revenue series: 7-day
    moving average (ROWS BETWEEN 6 PRECEDING) and day-over-day delta
    (lag). Sums stay DECIMAL inside the frame (order-independent),
    divided/diffed in double at the end.

    The post-agg series is one row per day, so the single unpartitioned
    window task holds ~years-of-days rows even at 100 TB of orders —
    the agg, not the window, absorbs the scale."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(_dec("o_totalprice")).alias("rev_dec")
    )
    w = Window.orderBy("day")
    frame = w.rowsBetween(-6, 0)
    return daily.select(
        "day",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.sum("rev_dec").over(frame).cast("double") / F.count("*").over(frame)).alias(
            "ma7"
        ),
        (F.col("rev_dec") - F.lag("rev_dec", 1).over(w)).cast("double").alias("delta"),
    )


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all 4 grouping-set combinations in
    one pass (the rollup twin, SURVEY.md §2.4)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the classic "unshipped orders" top-k join-agg —
    segment-filtered customers x date-filtered orders x date-filtered
    lineitem, revenue per order, top 10.

    Shape at scale: the BUILDING-segment customer keys are a filtered
    dimension -> broadcast LEFT-SEMI against orders (no fact shuffle
    for the segment predicate, no customer columns survive). Both date
    predicates are literal scan filters (PushedFilters on o_orderdate
    / l_shipdate), so the orderkey shuffle join only carries the
    unshipped slice. Ties broken by o_orderkey so LIMIT 10 is
    deterministic across engines."""
    cutoff = "1996-06-15"
    building = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    j = orders.join(
        F.broadcast(building), orders.o_custkey == building.c_custkey, "left_semi"
    ).join(li, F.col("o_orderkey") == li.l_orderkey)
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a fact-dim join —
    the PROMO share of one month's revenue. The CASE WHEN lives INSIDE
    the sum (one pass, no second scan); part is broadcast; the month
    predicate is a pushed scan filter. Both sums stay DECIMAL until
    the final cast, and the share is a double/double division of those
    two exact sums, so all three outputs hash bit-identically."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    rev = _dec("l_extendedprice") * disc
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("_pr"),
        F.sum(rev).alias("_tr"),
        F.count("*").alias("n_items"),
    )
    return agg.select(
        F.col("_pr").cast("double").alias("promo_revenue"),
        F.col("_tr").cast("double").alias("total_revenue"),
        (F.lit(100.0) * F.col("_pr").cast("double") / F.col("_tr").cast("double")).alias(
            "promo_share_pct"
        ),
        "n_items",
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations with
    the nation dimension ROLE-PLAYED twice (supplier's nation and
    customer's nation are independent joins of the same table — the
    one dimensional pattern no other registered query exercises).
    Grouped by (supp_nation, cust_nation, ship year), so both
    directions of the pair appear as separate rows.

    Shape at scale: lineitem x orders is the orderkey fact-fact
    shuffle; supplier / customer / both nation aliases broadcast; the
    nation-pair predicate collapses to a broadcast-side filter, so the
    fact scan is never shuffled for it."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_13")
                & (F.col("cust_nation") == "NATION_19")
            )
            | (
                (F.col("supp_nation") == "NATION_19")
                & (F.col("cust_nation") == "NATION_13")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        F.sum(_dec("l_extendedprice") * disc).cast("double").alias("volume"),
        F.count("*").alias("n_items"),
    )


def q22_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + anti join — the
    "global sales opportunity" query. Customers whose balance exceeds
    the positive-balance AVERAGE (a scalar aggregate broadcast to
    every row) and who placed NO order since 2000, counted per nation.

    The threshold is computed as exact-decimal-sum / count cast to
    double — bit-identical in both engines — so the > comparison
    can never flip a row near the boundary. The scalar joins in as a
    broadcast nested-loop of ONE row (Catalyst's plan for a scalar
    crossJoin), and the dormancy check is a left-anti join against the
    date-filtered orders keys: no fact columns move, no correlated
    per-row subquery execution."""
    cust = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    thr = cust.where(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("thr")
    )
    rich = cust.crossJoin(F.broadcast(thr)).where(F.col("c_acctbal") > F.col("thr"))
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
    )


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: CORRELATED scalar subquery per group — revenue
    from small-quantity orders of one brand's parts, where "small"
    means below 20% of that part's own average quantity.

    Spark-first decorrelation: the per-part average is a groupBy
    joined back to the brand-filtered fact slice — exactly the
    aggregate-then-join rewrite Catalyst produces for the SQL form,
    but stated explicitly. The brand semi-join prunes BOTH pipelines
    first (~1/25 of parts survive), so the per-part aggregate never
    shuffles lineitem rows for parts that cannot join, and the
    threshold side stays small enough to broadcast at dimension scale
    instead of forcing a second fact-sized shuffle join. Averages
    restricted to a key subset are unchanged (per-part aggregation
    commutes with filtering on the group key), so the oracle — which
    averages over ALL parts before the brand join — still
    hash-matches. The threshold (0.2 * exact-decimal-sum / count) is
    bit-identical in both engines, so the < comparison never flips a
    boundary row."""
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    brand_li = li.join(
        F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"), "left_semi"
    )
    per_part = brand_li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * (F.sum(_dec("l_quantity")).cast("double") / F.count("*"))
        ).alias("thr")
    )
    j = brand_li.join(per_part, F.col("l_partkey") == F.col("pk")).where(
        F.col("l_quantity") < F.col("thr")
    )
    return j.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
            "avg_yearly"
        ),
        F.count("*").alias("n_items"),
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    bands spanning BOTH sides of a fact-dim join. The interesting plan
    property: Catalyst splits the OR — the join-key equality stays the
    only join condition, per-side implied predicates (quantity between
    the union of bands, size/brand in the union of bands) are pushed
    to each scan, and the residual OR is evaluated post-join. part is
    broadcast, so the fact table is never shuffled."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    band1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    band2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).where(
        band1 | band2
    )
    return j.agg(
        F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


def revenue_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based (RANGE) window frame — the one frame kind the ROWS
    queries (daily_revenue_moving, window_kitchen_sink) can't express:
    per-priority daily revenue with a trailing 7-CALENDAR-DAY sum.
    Where a priority has no orders on some days, the range frame spans
    fewer rows than a ROWS 6-PRECEDING frame would — days_in_7d < 7
    marks exactly those gaps, proving the frame is bounded by the
    ORDER-BY VALUE, not the row count.

    Shape at scale: one partial-agg'd shuffle to (priority, day), then
    a single per-priority sort for the window — frame evaluation is a
    sliding two-pointer over the sorted run, O(rows), no self-join.
    Sums stay DECIMAL inside the frame (order-independent)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).cast("int").alias("day_n"),
    ).agg(F.sum(_dec("o_totalprice")).alias("_rev"))
    w = (
        Window.partitionBy("pri").orderBy("day_n").rangeBetween(-6, 0)
    )
    return daily.select(
        "pri",
        "day_n",
        F.col("_rev").cast("double").alias("daily_rev"),
        F.sum("_rev").over(w).cast("double").alias("rev_7d"),
        F.count("*").over(w).alias("days_in_7d"),
    )


def frequent_brands_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via ``approx_top_k`` — the third mergeable sketch
    family next to HLL (approx_distinct_users) and t-digest
    (approx_percentile_bounds). A frequent-items summary: bounded
    per-partition counter maps merged associatively, so the shuffle
    carries one sketch per partition, never per-row state. Chosen over
    ``df.stat.freqItems`` because it is a lazy AGGREGATE EXPRESSION —
    freqItems runs an eager job at plan-construction time, which would
    break the query catalog's lazy-builder contract (plan audits would
    silently execute it).

    The sketch's contract — every item with true frequency above the
    support IS in the candidate set (false positives allowed, false
    negatives never, k=30 > 25 distinct brands) — is asserted IN the
    query, like the other sketch oracles: exact per-brand counts (one
    partial-agg'd shuffle) are checked for membership in the candidate
    array, and the oracle asserts the verdict plus the exact counts.
    support=0.03 sits below the ~4% uniform brand share, so the set is
    non-trivial at every sf (sf0.001's sampling noise drops 6 of 25
    brands below it)."""
    support = 0.03
    part = load_table(spark, sf_dir, "part")
    cand = part.agg(
        F.expr("transform(approx_top_k(p_brand, 30), s -> s.item)").alias("cand")
    )
    tot = part.agg(F.count("*").alias("total"))
    exact = (
        part.groupBy("p_brand")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("n") / F.col("total") > support)
    )
    # n_parts comes from the tot aggregate (not first() over the
    # frequent set), so an EMPTY corpus still yields (0, 0, true) —
    # matching the oracle's ungrouped aggregates — instead of a null
    # n_parts row (the funnel empty-stage lesson).
    agg = exact.crossJoin(F.broadcast(cand)).agg(
        F.count("*").alias("n_true_frequent"),
        F.min(F.array_contains("cand", F.col("p_brand")).cast("int")).alias("_c"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("total").alias("n_parts"),
        "n_true_frequent",
        F.coalesce(F.col("_c") == 1, F.lit(True)).alias("all_covered"),
    )


_LATERAL_SQL = """
    SELECT o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS total_price,
           t.l_linenumber, CAST(t.l_extendedprice AS DOUBLE) AS line_price
    FROM orders o,
    LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
             ORDER BY l_extendedprice DESC, l_linenumber
             LIMIT 2) t
    WHERE o.o_totalprice > 400000
"""


def lateral_top_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — per-row top-N from another table,
    the SQL surface the window-function top-k queries
    (parts_top3_per_brand) can't demonstrate: the inner SELECT is
    CORRELATED (references o.o_orderkey) and LIMITed per outer row.
    Catalyst decorrelates it to a ranked join (DecorrelateInnerQuery +
    RewriteLateralSubquery), so the plan is the same shuffle-and-rank
    shape as the window form — no per-row execution. Same SQL text
    runs on both engines (the q18 one-dialect contract)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_LATERAL_SQL)


_RECURSIVE_SPINE_SQL = """
    WITH RECURSIVE spine(mo, max_mo) AS (
        SELECT CAST(date_trunc('month', min(o_orderdate)) AS TIMESTAMP),
               CAST(max(o_orderdate) AS TIMESTAMP)
        FROM orders
        UNION ALL
        SELECT mo + INTERVAL 1 MONTH, max_mo FROM spine
        WHERE mo + INTERVAL 1 MONTH <= max_mo
    ),
    monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1
    )
    SELECT s.mo, coalesce(m.n_orders, 0) AS n_orders,
           coalesce(m.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN monthly m ON m.mo = s.mo
"""


def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (new SQL surface in Spark 4.x) — a month spine
    generated by recursion from min to max order date, left-joined to
    monthly revenue so empty months appear as zero rows. Identical SQL
    text runs on both engines. The recursion is bounded by the data's
    ~80-month span (under Spark's default 100-level
    cteRecursionLevelLimit); the idiomatic non-recursive form is
    sequence() + explode (events_hourly_filled) — this query pins the
    RECURSIVE surface itself, the one construct that cannot be
    expressed in the DataFrame API.

    Performance note (measured): the loop bound must be CARRIED IN THE
    RECURSION STATE (max_mo column, computed once in the anchor) — a
    scalar subquery in the step's WHERE is re-evaluated every
    iteration, i.e. 80 re-scans of orders (12 s at sf0.1 vs ~1 s for
    this form). The same rewrite matters on any engine that doesn't
    cache uncorrelated scalar subqueries across recursive steps."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_SPINE_SQL)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — orders in a half-year
    window that had at least one LATE shipment, counted per priority.
    The reference schema's commit/receipt dates don't exist here, so
    "late" is l_shipdate > o_orderdate + 30 days (the correlated
    predicate still references BOTH sides, which is the shape's
    point).

    Spark-first decorrelation: the EXISTS becomes a LEFT-SEMI join on
    orderkey whose extra conjunct compares l_shipdate against the
    OUTER row's o_orderdate — Catalyst keeps the equi-key as the join
    key and evaluates the non-equi conjunct as a join residual, so
    the plan is one shuffle on orderkey, never a per-row subquery.
    The date window is a pushed scan filter on orders."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    had_late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return had_late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (faithful — every column exists): revenue per
    nation where the SUPPLIER and the CUSTOMER share a nation, for one
    region and a date window. The interesting join property: the
    supplier join carries TWO equality conjuncts (l_suppkey AND the
    customer's nationkey), so the "local" predicate is part of the
    broadcast hash key, never a post-join filter over the cross of
    nations.

    Shape at scale: orders x lineitem is the only fact-fact shuffle
    (orderkey); customer, supplier, nation, region all broadcast; the
    region/date predicates prune on the broadcast/scan side."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left_semi")
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item customer ranking — one quarter's
    orders, lineitems flagged 'R', revenue per customer, top 20.
    Both filters are pushed scan predicates; nation broadcasts; the
    orderkey join is the one fact-fact shuffle; ties broken by
    c_custkey so LIMIT 20 is deterministic across engines."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    j = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"), "c_acctbal")
        .agg(F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "nation",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q11_important_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group-HAVING against a GLOBAL scalar subquery
    — brands whose lineitem value exceeds a fraction of the
    whole-table total (partsupp doesn't exist here; brand value from
    the fact table preserves the shape: aggregate twice over ONE
    grouped pass, compare group rows to the broadcast global).

    Spark-first: the per-brand aggregate is computed ONCE and cached
    in the plan via a self-agg — the global total re-aggregates the
    small per-brand result (25 rows), not the fact table, and joins
    back as a broadcast scalar. Exact-decimal sums both sides of the
    comparison; the fraction multiply happens in double on BOTH
    engines, so the > can't flip a boundary row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    per_brand = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(_dec("l_extendedprice") * disc).alias("_val"))
    )
    total = per_brand.agg(F.sum("_val").cast("double").alias("_tot"))
    return (
        per_brand.crossJoin(F.broadcast(total))
        .where(F.col("_val").cast("double") > 0.045 * F.col("_tot"))
        .select("p_brand", F.col("_val").cast("double").alias("total_value"))
    )


def q12_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional two-way counts per derived
    category. The schema has no l_shipmode, so the category is the
    DERIVED ship latency (datediff over the joined pair) — which
    makes the shape strictly harder than stock Q12: the group key is
    computed FROM THE JOIN, so it can't be pushed to either scan, yet
    the plan is still one orderkey shuffle + one partial-agg'd
    group-by over two rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.datediff("l_shipdate", "o_orderdate") <= 30, "FAST"
    ).otherwise("SLOW")
    return j.groupBy(bucket.alias("latency_bucket")).agg(
        F.sum(high.cast("long")).alias("high_line_count"),
        F.sum((~high).cast("long")).alias("low_line_count"),
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the customer order-count DISTRIBUTION — a
    LEFT OUTER join with the filter ON THE JOIN (not a WHERE — a
    customer whose every order is filtered out still appears with
    count 0), aggregated twice: orders per customer, then customers
    per order-count.

    Spark-first: F.count over the nullable right-side key counts only
    matched rows — exactly the outer-join-count semantics — and both
    group-bys are partial-agg friendly, so the second aggregate sees
    one row per customer, the third one row per distinct count."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the "view + scalar max" query — 3-month
    revenue per supplier, return the supplier(s) achieving the
    maximum (ties all returned, per spec). The revenue relation is
    built once and re-aggregated for the scalar; the max compares a
    double cast of the SAME exact-decimal sum on both sides (and in
    both engines), so equality is bit-safe.

    At scale: one partial-agg'd shuffle to supplier grain (10-50k
    rows at 100 TB), the scalar max is a broadcast of one row, and
    supplier joins in as a broadcast dimension — no second fact
    pass."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * disc).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the "minimum-cost supplier" correlated
    subquery — for every part of one type/size band, the supplier(s)
    whose cost equals the part's GLOBAL minimum. The schema has no
    partsupp, so "cost" is each supplier's observed min unit price
    (l_extendedprice / l_quantity) from the fact table — the
    correlated min-per-part-compared-back shape is intact.

    Spark-first decorrelation: per-(part, supplier) min, re-minned to
    per-part, joined back on (partkey, cost-equality). The equality is
    safe across engines because the min is SELECTED FROM the same set
    of IEEE doubles, not recomputed. The part-type filter semi-prunes
    BEFORE both aggregates (filter commutes with min on the group
    key), so the fact table is aggregated only for qualifying parts;
    supplier/nation/region broadcast onto the tiny result."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 25)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    pruned = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    cost = pruned.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = cost.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    j = (
        cost.join(
            best,
            (cost.l_partkey == F.col("bk"))
            & (cost.unit_cost == F.col("best_cost")),
        )
        .join(F.broadcast(part), cost.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), cost.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.select(
        "s_name",
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        "p_partkey",
        "p_type",
        F.col("best_cost").cast("double").alias("unit_cost"),
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — one nation's fraction
    of a region's yearly volume for one part type. The widest join
    tree in the catalog (lineitem x part x orders x customer x
    nation x region x supplier x nation-again), with the nation
    dimension role-played on BOTH ends (customer's region, supplier's
    nationality) and a conditional share computed from two sums of
    the SAME grouped pass.

    Shape at scale: lineitem x orders is the one fact-fact shuffle;
    every dimension broadcasts; the customer-region and part-type
    predicates prune broadcast sides so the fact rows that survive
    the hash probes are already the qualifying slice. The share
    divides double casts of two exact-decimal sums — bit-identical
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    vol = _dec("l_extendedprice") * disc
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), cust.c_nationkey == F.col("nc_key"))
        .join(
            F.broadcast(region.select("r_regionkey")),
            F.col("nc_region") == F.col("r_regionkey"),
            "left_semi",
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns_key"))
    )
    zero = F.lit(0).cast("decimal(18,4)")
    agg = j.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(zero)).alias(
            "_nat"
        ),
        F.sum(vol).alias("_tot"),
        F.count("*").alias("n_items"),
    )
    return agg.select(
        "o_year",
        (F.col("_nat").cast("double") / F.col("_tot").cast("double")).alias(
            "mkt_share"
        ),
        F.col("_tot").cast("double").alias("total_volume"),
        "n_items",
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year over a
    name-LIKE'd part slice. partsupp's ps_supplycost doesn't exist, so
    unit cost is proxied as 10% of p_retailprice — profit keeps the
    Q9 form revenue - qty * cost with the cost coming from a JOINED
    dimension.

    Numeric discipline: revenue and cost are accumulated as TWO
    separate exact-decimal sums (decimal subtraction with mixed
    scales differs between engines' precision promotion) and
    differenced in double after the final cast — deterministic both
    sides. The LIKE predicate prunes the broadcast part side; orders
    joins only to supply the year."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    j = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    agg = j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).agg(
        F.sum(_dec("l_extendedprice") * disc).alias("_rev"),
        F.sum(_dec("l_quantity") * _dec("p_retailprice")).alias("_cost"),
        F.count("*").alias("n_items"),
    )
    return agg.select(
        "nation",
        "o_year",
        (
            F.col("_rev").cast("double") - 0.1 * F.col("_cost").cast("double")
        ).alias("profit"),
        "n_items",
    )


def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: DISTINCT-count per part attribute triple with
    a NOT-IN supplier exclusion. partsupp doesn't exist, so the
    part-supplier relation is the one OBSERVED in the fact table; the
    excluded-supplier subquery (negative account balance standing in
    for the spec's complaint-comment LIKE) becomes a LEFT-ANTI join —
    the null-safe plan for NOT IN when the subquery side is known
    non-null.

    Shape at scale: the anti join runs against a broadcast of the
    (tiny) excluded-supplier keys BEFORE the distinct-agg, so
    disqualified rows never shuffle; count(DISTINCT) goes through
    Spark's two-phase expand, partial-agg'd on (triple, suppkey)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    j = li.join(
        F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"), "left_anti"
    ).join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested correlated quantity threshold —
    suppliers who shipped MORE THAN 30% of a part's one-year volume,
    for a name-LIKE'd part slice (the spec's ps_availqty > 0.5 * qty
    becomes supplier-share-of-part > 0.3: the same
    per-(part, supplier) aggregate compared against a correlated
    per-part aggregate).

    Spark-first: ONE date+part-pruned fact slice feeds both
    aggregates (per part+supplier, re-aggregated per part), joined on
    partkey with the share predicate as the join residual; DISTINCT
    collapses a supplier dominating several parts. The 0.3 multiply
    happens in double on both engines."""
    part_keys = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(part_keys), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    supp_part = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    part_year = supp_part.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("supp_qty").alias("total_qty")
    )
    dom = supp_part.join(
        part_year,
        (supp_part.l_partkey == F.col("pk"))
        & (F.col("supp_qty") > 0.3 * F.col("total_qty")),
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        dom.select("l_suppkey")
        .distinct()
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the hardest subquery nesting in the suite —
    suppliers who were the SOLE late shipper on a finished
    multi-supplier order. One EXISTS (another supplier participated)
    and one NOT EXISTS (no OTHER supplier was late) against the same
    fact table, both correlated on orderkey AND anti-correlated on
    suppkey. "Late" is l_shipdate > o_orderdate + 60 days (no
    commit/receipt dates in this schema).

    Spark-first decorrelation: the late slice (lineitem x F-status
    orders, residual date predicate) is computed ONCE and reused as
    (a) the driving rows, (b) the NOT-EXISTS probe side — the
    LEFT-SEMI carries the suppkey!= residual on the orderkey equi-key,
    and the LEFT-ANTI does the same against the late slice itself.
    Three shuffles on one key, zero per-row subqueries."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    waited = late.join(
        other,
        (late.l_orderkey == F.col("ok2")) & (late.l_suppkey != F.col("sk2")),
        "left_semi",
    ).join(
        other_late,
        (late.l_orderkey == F.col("ok3")) & (late.l_suppkey != F.col("sk3")),
        "left_anti",
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waited.join(F.broadcast(supp), waited.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def bloom_pruned_urgent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of URGENT-priority order lines, with the lineitem scan
    pruned through ``operators/scale.bloom_prefilter`` BEFORE the join
    shuffle: a 1-hash Bloom bitmap built from the urgent orderkeys
    (~20 % of orders) broadcast to the fact side drops ~80 % of
    lineitem rows pre-shuffle at a ~0.3 % false-positive cost, which
    the subsequent equi-join removes.

    The DuckDB oracle is the PLAIN join — the hash match certifies
    that bloom-prune-then-join is row-for-row identical to the
    unpruned join (no false negatives). This is the explicit,
    certifiable form of Spark's runtime row-level bloom filtering.
    """
    from ..operators.scale import bloom_prefilter

    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
    )
    pruned = bloom_prefilter(li, urgent.select("o_orderkey"), on="o_orderkey")
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    return (
        pruned.join(urgent, "o_orderkey")
        .groupBy("l_returnflag", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


RELATIONAL_ORACLES: dict[str, str] = {
    # plain join/agg — certifies bloom-prune-then-join == join
    "bloom_pruned_urgent_revenue": """
        SELECT l_returnflag,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag, CAST(year(o_orderdate) AS INT)
    """,
    # The exact SQL string the Spark query runs — one dialect, two
    # engines (the point of writing q18 through the SQL entrypoint).
    "q18_large_volume": _Q18_SQL,
    "q3_shipping_priority": """
        SELECT o.o_orderkey, o.o_orderdate,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey IN (
                  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          AND o.o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1996-06-15 00:00:00'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
    """,
    "q14_promo_effect": """
        WITH agg AS (
            SELECT sum(CASE WHEN p_type = 'PROMO'
                            THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                            ELSE CAST(0 AS DECIMAL(18,4)) END) AS pr,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS tr,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
        )
        SELECT CAST(pr AS DOUBLE) AS promo_revenue,
               CAST(tr AS DOUBLE) AS total_revenue,
               100.0 * CAST(pr AS DOUBLE) / CAST(tr AS DOUBLE) AS promo_share_pct,
               n_items
        FROM agg
    """,
    "q7_nation_volume": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS volume,
               count(*) AS n_items
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
           OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13')
        GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS INT)
    """,
    "frequent_brands_sketch": """
        WITH tot AS (SELECT count(*) AS total FROM part),
        ef AS (
            SELECT p_brand FROM part, tot
            GROUP BY p_brand, total
            HAVING count(*) / total > 0.03
        )
        SELECT (SELECT total FROM tot) AS n_parts,
               count(*) AS n_true_frequent,
               TRUE AS all_covered
        FROM ef
    """,
    "revenue_trailing_window": """
        WITH daily AS (
            SELECT o_orderpriority AS pri,
                   CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00',
                                 o_orderdate) AS INT) AS day_n,
                   sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
            FROM orders GROUP BY 1, 2
        )
        SELECT pri, day_n,
               CAST(rev AS DOUBLE) AS daily_rev,
               CAST(sum(rev) OVER w AS DOUBLE) AS rev_7d,
               count(*) OVER w AS days_in_7d
        FROM daily
        WINDOW w AS (PARTITION BY pri ORDER BY day_n
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "q17_small_quantity": """
        WITH per_part AS (
            SELECT l_partkey AS pk,
                   0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                          / count(*)) AS thr
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
                   AS avg_yearly,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN per_part a ON a.pk = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < a.thr
    """,
    "q19_discounted_revenue": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity BETWEEN 10 AND 35)
    """,
    "q22_dormant_rich": """
        WITH thr AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS thr
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_nationkey,
               count(*) AS n_customers,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        FROM customer c, thr
        WHERE c.c_acctbal > thr.thr
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c.c_nationkey
    """,
    "order_line_arrays": """
        WITH ranked AS (
            SELECT l_orderkey, l_linenumber, l_quantity,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber, l_quantity) AS rn
            FROM lineitem
        )
        SELECT l_orderkey,
               count(*)::INT AS n_lines,
               string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS lines_csv,
               coalesce(sum(l_quantity) FILTER (rn <= 2), 0.0) AS qty_first2,
               bool_or(l_linenumber = 3) AS has_line3
        FROM ranked
        GROUP BY l_orderkey
    """,
    "returnflag_measures_unpivot": """
        WITH agg AS (
            SELECT l_returnflag,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
                   CAST(count(*) AS DOUBLE) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM agg
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM agg
        UNION ALL
        SELECT l_returnflag, 'n_rows', n_rows FROM agg
    """,
    "customers_with_big_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
    """,
    "order_price_percentiles": """
        SELECT o_orderpriority,
               count(*) AS n,
               quantile_disc(o_totalprice, 0.25) AS p25,
               quantile_disc(o_totalprice, 0.50) AS p50,
               quantile_disc(o_totalprice, 0.75) AS p75,
               quantile_disc(o_totalprice, 0.90) AS p90
        FROM orders
        GROUP BY o_orderpriority
    """,
    "daily_revenue_moving": """
        WITH daily AS (
            SELECT date_trunc('day', o_orderdate) AS day,
                   sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
            FROM orders GROUP BY 1
        )
        SELECT day,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(sum(rev_dec) OVER f AS DOUBLE)
                   / count(*) OVER f AS ma7,
               CAST(rev_dec - lag(rev_dec, 1) OVER (ORDER BY day) AS DOUBLE) AS delta
        FROM daily
        WINDOW f AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "cube_sales": """
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
                   AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q6_forecast_revenue": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    # Same logical answer as q6: the clustered copy holds the same rows,
    # so the plain-layout SQL is the oracle for the clustered scan too.
    "q6_clustered_scan": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    # One-shot window-SQL recompute of the SCD2 history the Spark side
    # builds incrementally (collapse no-op changes, runs open at their
    # change and close at the next run's start). lag() against the raw
    # previous row is equivalent to against the previous surviving run:
    # a dropped row's attr equals its predecessor's by construction.
    "scd2_customer_priority": """
        WITH ch AS (
            SELECT o_custkey AS custkey, o_orderpriority AS priority,
                   o_orderdate AS d, o_orderkey AS s
            FROM orders
        ),
        runs AS (
            SELECT custkey, priority, d, s FROM (
                SELECT ch.*,
                       lag(priority) OVER (PARTITION BY custkey
                                           ORDER BY d, s) AS prev
                FROM ch
            ) WHERE prev IS NULL OR prev <> priority
        )
        SELECT custkey, priority, d AS effective_from, s AS effective_seq,
               lead(d) OVER (PARTITION BY custkey ORDER BY d, s)
                   AS effective_to,
               (lead(d) OVER (PARTITION BY custkey ORDER BY d, s)) IS NULL
                   AS is_current
        FROM runs
    """,
    # Forget-propagation replay: the identical one-shot SCD2 recompute
    # over the complement change log — a hash match certifies the
    # physical history delete == "the victims never existed".
    "forget_customers_scd2": f"""
        WITH ch AS (
            SELECT o_custkey AS custkey, o_orderpriority AS priority,
                   o_orderdate AS d, o_orderkey AS s
            FROM orders
            WHERE o_custkey % {FORGET_CUST_MOD} <> 0
        ),
        runs AS (
            SELECT custkey, priority, d, s FROM (
                SELECT ch.*,
                       lag(priority) OVER (PARTITION BY custkey
                                           ORDER BY d, s) AS prev
                FROM ch
            ) WHERE prev IS NULL OR prev <> priority
        )
        SELECT custkey, priority, d AS effective_from, s AS effective_seq,
               lead(d) OVER (PARTITION BY custkey ORDER BY d, s)
                   AS effective_to,
               (lead(d) OVER (PARTITION BY custkey ORDER BY d, s)) IS NULL
                   AS is_current
        FROM runs
    """,
    # Point-in-time join replay: the SCD2 window CTE (as in
    # scd2_customer_priority) joined to lineitem at ship date with the
    # interval predicate, left-joined so pre-history ships keep NONE.
    "pit_priority_revenue": """
        WITH ch AS (
            SELECT o_custkey AS custkey, o_orderpriority AS priority,
                   o_orderdate AS d, o_orderkey AS s
            FROM orders
        ),
        runs AS (
            SELECT custkey, priority, d, s FROM (
                SELECT ch.*,
                       lag(priority) OVER (PARTITION BY custkey
                                           ORDER BY d, s) AS prev
                FROM ch
            ) WHERE prev IS NULL OR prev <> priority
        ),
        hist AS (
            SELECT custkey, priority, d AS effective_from,
                   lead(d) OVER (PARTITION BY custkey ORDER BY d, s)
                       AS effective_to
            FROM runs
        ),
        facts AS (
            SELECT o_custkey AS custkey, l_shipdate, l_extendedprice
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT coalesce(h.priority, 'NONE') AS pit_priority,
               count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS revenue
        FROM facts f
        LEFT JOIN hist h
          ON h.custkey = f.custkey
         AND h.effective_from <= f.l_shipdate
         AND (h.effective_to IS NULL OR f.l_shipdate < h.effective_to)
        GROUP BY 1
    """,
    # Same rows again under the Z-ordered layout -> same plain oracle.
    "q6_zorder_scan": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    # Spark's USING-column full outer coalesces the key; mirror with
    # coalesce(o.d, l.d).
    "order_ship_calendar": """
        WITH o AS (
            SELECT o_orderdate AS d, count(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        l AS (
            SELECT l_shipdate AS d, count(*) AS n_shipments
            FROM lineitem GROUP BY 1
        )
        SELECT coalesce(o.d, l.d) AS d,
               coalesce(o.n_orders, 0) AS n_orders,
               coalesce(l.n_shipments, 0) AS n_shipments
        FROM o FULL OUTER JOIN l ON o.d = l.d
    """,
    "order_priority_counts": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY o_orderpriority
    """,
    "distinct_parts_per_flag": """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps
        FROM lineitem GROUP BY l_returnflag
    """,
    "rollup_sales": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "grouping_sets_sales": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS agg_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS agg_status,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_linestatus), ())
    """,
    "approx_percentile_bounds": """
        SELECT o_orderpriority, count(*) AS n, TRUE AS within_bound
        FROM orders GROUP BY o_orderpriority
    """,
    "pivot_line_status": """
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'O'
                             THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS qty_open,
               CAST(sum(CASE WHEN l_linestatus = 'F'
                             THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS qty_fulfilled
        FROM lineitem GROUP BY l_returnflag
    """,
    "top_customers_by_revenue": """
        WITH rev AS (
            SELECT o_custkey,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS r
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, CAST(r AS DOUBLE) AS revenue
        FROM rev JOIN customer ON o_custkey = c_custkey
        ORDER BY revenue DESC, c_custkey
        LIMIT 10
    """,
    "region_revenue": """
        SELECT r_name, n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY r_name, n_name
    """,
    "customer_order_stats": """
        SELECT c_custkey, c_mktsegment,
               count(o_orderkey) AS n_orders,
               coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0)
                   AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_mktsegment
    """,
    "customers_without_orders": """
        SELECT n_name, count(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
        )
        GROUP BY n_name
    """,
    "segment_setops": """
        SELECT custkey FROM (
            SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        )
        EXCEPT ALL
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "parts_top3_per_brand": """
        SELECT p_brand, p_partkey, p_name, p_retailprice, rank FROM (
            SELECT p_brand, p_partkey, p_name, p_retailprice,
                   row_number() OVER (PARTITION BY p_brand
                                      ORDER BY p_retailprice DESC, p_partkey)
                       AS rank
            FROM part
        ) WHERE rank <= 3
    """,
    "orders_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "supplier_balance_rank": """
        SELECT s_nationkey, s_suppkey, s_acctbal,
               rank() OVER w AS bal_rank,
               dense_rank() OVER w AS bal_dense_rank,
               coalesce(lag(s_suppkey, 1) OVER w, -1) AS prev_suppkey,
               CAST(sum(CAST(s_acctbal AS DECIMAL(12,2)))
                    OVER (PARTITION BY s_nationkey
                          ORDER BY s_acctbal DESC, s_suppkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS running_bal
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
    "window_kitchen_sink": """
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               ntile(4) OVER w::INT AS price_quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               lag(o_totalprice, 1) OVER w AS prev_price,
               lead(o_totalprice, 1) OVER w AS next_price,
               first_value(o_totalprice) OVER wf AS cheapest_in_pri,
               last_value(o_totalprice) OVER wf AS dearest_in_pri,
               nth_value(o_totalprice, 2) OVER wf AS second_cheapest
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey),
               wf AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
    """,
    "scalar_kitchen_sink": """
        SELECT o_orderkey,
               upper(o_orderpriority) AS pri_upper,
               substring(o_orderpriority, 1, 1) AS pri_code,
               length(o_orderpriority) AS pri_len,
               replace(o_orderpriority, '-', '_') AS pri_snake,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(month(o_orderdate) AS INT) AS o_month,
               CAST(day(o_orderdate) AS INT) AS o_day,
               date_trunc('month', o_orderdate) AS o_month_start,
               abs(o_totalprice - 1000.0) AS price_dist,
               CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
               CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
               sqrt(o_totalprice) AS price_sqrt,
               string_split(o_orderpriority, '-')[2] AS pri_word,
               concat_ws('|', 'P', o_orderpriority) AS pri_tagged
        FROM orders
    """,
    "order_value_robust_stats": _ROBUST_SQL_TMPL.format(tbl="orders"),
    "lateral_top_lines": _LATERAL_SQL,
    "recursive_month_spine": _RECURSIVE_SPINE_SQL,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
    """,
    "q5_local_supplier_volume": """
        SELECT n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue,
               count(*) AS n_items
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
                       AND s.s_nationkey = c.c_nationkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY n.n_name
    """,
    "q10_returned_items": """
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue,
               CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    "q11_important_brands": """
        WITH val AS (
            SELECT p.p_brand,
                   sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS v
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY p.p_brand
        )
        SELECT p_brand, CAST(v AS DOUBLE) AS total_value
        FROM val
        WHERE CAST(v AS DOUBLE)
              > 0.045 * (SELECT CAST(sum(v) AS DOUBLE) FROM val)
    """,
    "q12_ship_latency": """
        SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                    THEN 'FAST' ELSE 'SLOW' END AS latency_bucket,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY latency_bucket
    """,
    "q13_order_distribution": """
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                               AND o.o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c.c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN rev r ON r.supplier_no = s.s_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "q2_min_cost_supplier": """
        WITH cost AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_type = 'STANDARD' AND p_size <= 25)
            GROUP BY l_partkey, l_suppkey
        ), best AS (
            SELECT l_partkey, min(unit_cost) AS best_cost
            FROM cost GROUP BY l_partkey
        )
        SELECT s.s_name, n.n_name AS nation, r.r_name AS region,
               p.p_partkey, p.p_type,
               CAST(b.best_cost AS DOUBLE) AS unit_cost,
               CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
        FROM cost c
        JOIN best b ON b.l_partkey = c.l_partkey
                   AND c.unit_cost = b.best_cost
        JOIN part p     ON p.p_partkey = c.l_partkey
        JOIN supplier s ON s.s_suppkey = c.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
    """,
    "q8_market_share": """
        WITH vol AS (
            SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                   CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS volume,
                   ns.n_name AS supp_nation
            FROM lineitem l
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
            JOIN region rc  ON rc.r_regionkey = nc.n_regionkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
            WHERE rc.r_name = 'EUROPE'
              AND l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
        SELECT o_year,
               CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE) AS mkt_share,
               CAST(sum(volume) AS DOUBLE) AS total_volume,
               count(*) AS n_items
        FROM vol GROUP BY o_year
    """,
    "q9_product_profit": """
        WITH agg AS (
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS INT) AS o_year,
                   sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev,
                   sum(CAST(l.l_quantity AS DECIMAL(12,2))
                       * CAST(p.p_retailprice AS DECIMAL(12,2))) AS cost,
                   count(*) AS n_items
            FROM lineitem l
            JOIN part p     ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            WHERE p.p_name LIKE '%widget%'
            GROUP BY n.n_name, o_year
        )
        SELECT nation, o_year,
               CAST(rev AS DOUBLE) - 0.1 * CAST(cost AS DOUBLE) AS profit,
               n_items
        FROM agg
    """,
    "q16_part_supplier_counts": """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                  WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    "q20_dominant_suppliers": """
        WITH supp_part AS (
            SELECT l_suppkey, l_partkey, sum(l_quantity) AS supp_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'small%')
            GROUP BY l_suppkey, l_partkey
        ), part_year AS (
            SELECT l_partkey, sum(supp_qty) AS total_qty
            FROM supp_part GROUP BY l_partkey
        )
        SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name AS nation
        FROM supp_part sp
        JOIN part_year py ON py.l_partkey = sp.l_partkey
                         AND sp.supp_qty > 0.3 * py.total_qty
        JOIN supplier s ON s.s_suppkey = sp.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
    """,
    "q21_waiting_suppliers": """
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND o3.o_orderstatus = 'F'
                            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s.s_name
    """,
}

# Oracle for the compacted+bucketed layout query: plain-layout SQL —
# the layout changes the physical plan, never the rows.
RELATIONAL_ORACLES["segment_order_stats_compacted"] = """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           count(DISTINCT c_custkey) AS n_customers,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
"""


RELATIONAL_ORACLES["pagerank_suppliers"] = _pagerank_oracle_sql()


RELATIONAL_ORACLES["pagerank_directed_suppliers"] = _pagerank_directed_oracle_sql()
RELATIONAL_ORACLES["ppr_supplier_recs"] = _ppr_oracle_sql()


# v2 derived from v1 with the same three deterministic mutations; the
# diff itself is one full-outer join + classify, in both engines.
RELATIONAL_ORACLES["snapshot_diff_orders"] = f"""
    WITH v1 AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus
        FROM orders
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % {DIFF_UPDATE_MOD} = 0
                    THEN cents + 100 ELSE cents END AS cents,
               o_orderstatus
        FROM v1 WHERE o_orderkey % {DIFF_DELETE_MOD} <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000, cents, o_orderstatus
        FROM v1 WHERE o_orderkey % {DIFF_INSERT_MOD} = 0
    ),
    j AS (
        SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN a.cents <> b.cents
                         OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               coalesce(a.o_orderkey, b.o_orderkey) AS okey
        FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type, count(*) AS n_rows,
           min(okey) AS min_key, max(okey) AS max_key
    FROM j GROUP BY change_type
"""


# id-oriented edges make each triangle exactly ONE ordered wedge
# (a<b<c) plus its closing edge, so the 3-way join counts it once.
def _kcore_oracle_sql() -> str:
    """Unrolled replay of the truncated k-core peel over the same
    union-kNN backbone CTEs as the triangle oracle."""
    ctes = [
        """po AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)""",
        """support AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS support
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    )""",
        f"""edges AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY support DESC, v) AS ru,
                   row_number() OVER (PARTITION BY v
                                      ORDER BY support DESC, u) AS rv
            FROM support
        ) WHERE ru <= {TRI_TOP_NEIGHBORS} OR rv <= {TRI_TOP_NEIGHBORS}
    )""",
        """und0 AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    )""",
    ]
    for r in range(KCORE_ROUNDS):
        ctes.append(f"""keep{r} AS (
        SELECT u FROM (SELECT u, count(*) AS d FROM und{r} GROUP BY u)
        WHERE d >= {KCORE_K}
    )""")
        ctes.append(f"""und{r + 1} AS (
        SELECT e.u, e.v FROM und{r} e
        JOIN keep{r} a ON a.u = e.u
        JOIN keep{r} b ON b.u = e.v
    )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT u AS suppkey, CAST(count(*) AS BIGINT) AS core_deg
    FROM und{KCORE_ROUNDS} GROUP BY u"""
    )


RELATIONAL_ORACLES["kcore_suppliers"] = _kcore_oracle_sql()


def _bfs_oracle_sql() -> str:
    """Unrolled replay of the synchronous BFS frontier rounds over the
    same union-kNN backbone CTEs as the kcore/triangle oracles."""
    seeds = ", ".join(f"({s}, 0)" for s in BFS_SEED_SUPPS)
    ctes = [
        """po AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)""",
        """support AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS support
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    )""",
        f"""edges AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY support DESC, v) AS ru,
                   row_number() OVER (PARTITION BY v
                                      ORDER BY support DESC, u) AS rv
            FROM support
        ) WHERE ru <= {TRI_TOP_NEIGHBORS} OR rv <= {TRI_TOP_NEIGHBORS}
    )""",
        """und AS (
        SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
    )""",
        f"""reached0(node, hops) AS (VALUES {seeds})""",
    ]
    for r in range(1, BFS_ROUNDS + 1):
        ctes.append(f"""nxt{r} AS (
        SELECT DISTINCT e.v AS node FROM und e
        JOIN reached{r - 1} f ON f.node = e.u AND f.hops = {r - 1}
        WHERE e.v NOT IN (SELECT node FROM reached{r - 1})
    )""")
        ctes.append(f"""reached{r} AS (
        SELECT node, hops FROM reached{r - 1}
        UNION ALL SELECT node, {r} AS hops FROM nxt{r}
    )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(node AS BIGINT) AS suppkey, CAST(hops AS INT) AS hops
    FROM reached{BFS_ROUNDS}"""
    )


RELATIONAL_ORACLES["bfs_hops_suppliers"] = _bfs_oracle_sql()


def _lpa_oracle_sql() -> str:
    """Unrolled replay of the synchronous label-propagation rounds
    over the same union-kNN backbone CTEs as the kcore/triangle
    oracles. The engine's per-node argmax is max(struct(c, -label));
    the replay's row_number() OVER (ORDER BY c DESC, label ASC) = 1
    is the identical selection — both pick most-votes-then-smallest-
    label, so the two forms must agree bit-for-bit."""
    ctes = [
        """po AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)""",
        """support AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS support
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    )""",
        f"""edges AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY support DESC, v) AS ru,
                   row_number() OVER (PARTITION BY v
                                      ORDER BY support DESC, u) AS rv
            FROM support
        ) WHERE ru <= {LPA_TOP_NEIGHBORS} OR rv <= {LPA_TOP_NEIGHBORS}
    )""",
        """und0 AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    )""",
        """labels0 AS (SELECT DISTINCT u AS node, u AS label FROM und0)""",
    ]
    for r in range(LPA_ROUNDS):
        ctes.append(f"""votes{r} AS (
        SELECT e.u, l.label, count(*) AS c
        FROM und0 e JOIN labels{r} l ON l.node = e.v
        GROUP BY 1, 2
    )""")
        ctes.append(f"""best{r} AS (
        SELECT u, label FROM (
            SELECT u, label,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY c DESC, label ASC) AS rn
            FROM votes{r}
        ) WHERE rn = 1
    )""")
        ctes.append(f"""labels{r + 1} AS (
        SELECT l.node, coalesce(b.label, l.label) AS label
        FROM labels{r} l LEFT JOIN best{r} b ON b.u = l.node
    )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS suppkey, label AS community FROM labels{LPA_ROUNDS}"""
    )


RELATIONAL_ORACLES["label_prop_communities"] = _lpa_oracle_sql()


RELATIONAL_ORACLES["triangle_count_suppliers"] = f"""
    WITH po AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    support AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS support
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY support DESC, v) AS ru,
                   row_number() OVER (PARTITION BY v
                                      ORDER BY support DESC, u) AS rv
            FROM support
        ) WHERE ru <= {TRI_TOP_NEIGHBORS} OR rv <= {TRI_TOP_NEIGHBORS}
    ),
    nodes AS (SELECT u AS n FROM edges UNION SELECT v FROM edges),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM nodes) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           n_triangles
    FROM tri
"""


RELATIONAL_ORACLES["dpp_quarter_revenue"] = f"""
    WITH m AS (
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS o_month
        FROM orders
    ),
    dim AS (
        SELECT o_month FROM m
        WHERE substring(o_month, 1, 4) || '-Q' ||
              CAST((CAST(substring(o_month, 6, 2) AS INT) + 2) // 3
                   AS VARCHAR) = '{DPP_QUARTER}'
    )
    SELECT strftime(o.o_orderdate, '%Y-%m') AS o_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN dim
      ON strftime(o.o_orderdate, '%Y-%m') = dim.o_month
    GROUP BY 1
"""


TT_DELETE_PRED = "o_orderpriority = '1-URGENT'"


def time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional-table time travel certified end-to-end
    (sources/txlog.py — the pure-python commit-log format: atomic
    exclusive-create commits, snapshot isolation, file-level deletes,
    optimistic concurrency; Delta/Iceberg's jars are absent in this
    container, so the protocol itself is implemented and tested here).
    Pipeline: orders -> create v0 -> transactional DELETE of urgent
    orders (only victim files rewritten) -> v1; then read BOTH
    versions via time travel and aggregate each. The oracle states the
    logical expectation per version (full table vs complement), so a
    hash match certifies that v0 stayed byte-stable under the delete
    AND v1 holds exactly the survivors — the two halves of snapshot
    isolation, as one green row. Output: (version, n_orders,
    total_cents)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        txlog.create_table(
            spark, root, load_table(spark, sf_dir, "orders").repartition(8)
        )
        txlog.delete_where(spark, root, TT_DELETE_PRED)

    base = derived_cache_dir(sf_dir, "txlog_orders", ("orders",), build)
    root = os.path.join(base, "orders_tx")
    out = None
    for v in (0, 1):
        snap = txlog.read_table(spark, root, version=v)
        agg = snap.agg(
            F.lit(v).alias("version"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("total_cents"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


RELATIONAL_ORACLES["time_travel_orders"] = f"""
    SELECT 0 AS version, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    UNION ALL
    SELECT 1, count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE NOT ({TT_DELETE_PRED.replace("o_orderpriority", "o_orderpriority")})
"""


MERGE_UPD_PRED = "o_orderkey % 97 = 3"   # CDC updates: price doubled
MERGE_INS_PRED = "o_orderkey % 97 = 5"   # CDC inserts: new negative keys


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE certified end-to-end (sources/txlog.py
    merge — round-9 verdict item 2): orders -> create v0 -> one CDC
    batch upserted as ONE atomic version (matched keys' prices
    doubled in place, brand-new negative keys inserted; only files
    containing a matched key are rewritten, found by a single
    input_file_name probe job) -> the SAME batch REDELIVERED with the
    same (app_id, txn_version) -> provably a no-op. The output's
    ``version`` column is the table's final committed version: the
    oracle states 1, so a hash match certifies both the upsert
    semantics (row set = updates ∪ untouched) AND the exactly-once
    idempotence (a replayed commit would read 2). Output: (version,
    n_rows, total_cents, n_inserted)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        txlog.create_table(spark, root, base.repartition(8))
        updates = base.where(MERGE_UPD_PRED).select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ).unionByName(
            base.where(MERGE_INS_PRED).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
            )
        )
        txlog.merge(
            spark, root, updates, ("o_orderkey",),
            app_id="cdc", txn_version=0,
        )
        # at-least-once redelivery of the SAME batch: must not commit
        txlog.merge(
            spark, root, updates, ("o_orderkey",),
            app_id="cdc", txn_version=0,
        )

    base_dir = derived_cache_dir(sf_dir, "txlog_merge_orders", ("orders",), build)
    root = os.path.join(base_dir, "orders_tx")
    snap = txlog.read_table(spark, root)
    return snap.agg(
        F.lit(txlog.current_version(root)).cast("long").alias("version"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("total_cents"),
        F.sum(F.when(F.col("o_orderkey") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_inserted"),
    )


RELATIONAL_ORACLES["merge_upsert_orders"] = f"""
    WITH merged AS (
        SELECT o_orderkey AS k,
               CASE WHEN {MERGE_UPD_PRED} THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders
        UNION ALL
        SELECT -o_orderkey, o_totalprice FROM orders WHERE {MERGE_INS_PRED}
    )
    SELECT CAST(1 AS BIGINT) AS version,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(p * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inserted
    FROM merged
"""


def cdf_order_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed certified end-to-end (sources/txlog.py
    read_changes — round-9 verdict item 3): orders split even/odd ->
    create v0 (evens) -> append v1 (odds) -> transactional DELETE of
    urgent orders at v2 -> read the row-level change feed since v0
    and aggregate per (commit_version, change_type). The oracle
    states the logical feed — v1's inserts are exactly the odd keys,
    v2's deletes are exactly the urgent rows, and NO insert rows
    exist at v2 (rewritten survivors cancel in the file diff) — so a
    hash match certifies O(delta) incremental consumption: the feed
    is derived from manifest file diffs, never a corpus re-read.
    Output: (commit_version, change_type, n_rows, cents)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        txlog.create_table(
            spark, root, base.where("o_orderkey % 2 = 0").repartition(8)
        )
        txlog.append(spark, root, base.where("o_orderkey % 2 = 1"))
        txlog.delete_where(spark, root, TT_DELETE_PRED)

    base_dir = derived_cache_dir(sf_dir, "txlog_cdf_orders", ("orders",), build)
    root = os.path.join(base_dir, "orders_tx")
    cdf = txlog.read_changes(spark, root, from_version=0)
    return (
        cdf.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .orderBy("commit_version", "change_type")
    )


RELATIONAL_ORACLES["cdf_order_changes"] = f"""
    SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE {TT_DELETE_PRED}
    ORDER BY commit_version, change_type
"""


def optimize_orders_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE as a commit certified end-to-end (sources/txlog.py
    optimize — round-9 verdict item 5): orders written as 16 small
    files -> compacted into a NEW version (pinned readers keep v0's
    exact file list; old files die at vacuum, not at optimize) ->
    read back. The output carries (a) the final version (oracle: 1 —
    compaction IS a commit), (b) the full row count + cents (oracle:
    the whole table — compaction lost nothing), and (c) the change
    feed's row count across the optimize commit (oracle: 0 — same
    multiset in as out, the file diff cancels), so one hash match
    certifies the three OPTIMIZE invariants at once. Output:
    (version, n_rows, total_cents, cdf_rows)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        txlog.create_table(spark, root, base.repartition(16))
        txlog.optimize(spark, root)

    base_dir = derived_cache_dir(
        sf_dir, "txlog_optimize_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    v = txlog.current_version(root)
    cdf_rows = txlog.read_changes(spark, root, from_version=0).count()
    return txlog.read_table(spark, root).agg(
        F.lit(v).cast("long").alias("version"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("total_cents"),
        F.lit(cdf_rows).cast("long").alias("cdf_rows"),
    )


RELATIONAL_ORACLES["optimize_orders_compaction"] = """
    SELECT CAST(1 AS BIGINT) AS version,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(0 AS BIGINT) AS cdf_rows
    FROM orders
"""


def schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the transactional table certified
    end-to-end (sources/txlog.py append(merge_schema=True) — round-9
    verdict item 6): orders' even keys create v0 with TWO columns
    (o_orderkey, o_totalprice); the odd keys append at v1 WITH a new
    o_orderpriority column — the commit records the widened schema in
    the manifest, pre-evolution files read back with NULLs, and time
    travel at v0 still shows the old two-column shape. The output
    groups the final table by the evolved column (NULL = the
    pre-evolution rows) and carries the v0/v1 column counts read via
    time travel, so the hash match certifies widening, NULL
    backfill, AND old-snapshot schema stability in one row set.
    Output: (priority, n_rows, cents, n_cols_v0, n_cols_now)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders")
        txlog.create_table(
            spark,
            root,
            base.where("o_orderkey % 2 = 0")
            .select("o_orderkey", "o_totalprice")
            .repartition(8),
        )
        txlog.append(
            spark,
            root,
            base.where("o_orderkey % 2 = 1").select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            ),
            merge_schema=True,
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_evolve_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    n_cols_v0 = len(txlog.read_table(spark, root, version=0).columns)
    snap = txlog.read_table(spark, root)
    n_cols_now = len(snap.columns)
    return (
        snap.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .select(
            "priority",
            "n_rows",
            "cents",
            F.lit(n_cols_v0).cast("long").alias("n_cols_v0"),
            F.lit(n_cols_now).cast("long").alias("n_cols_now"),
        )
        .orderBy("priority")
    )


RELATIONAL_ORACLES["schema_evolution_orders"] = """
    SELECT o_orderpriority AS priority, count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(2 AS BIGINT) AS n_cols_v0, CAST(3 AS BIGINT) AS n_cols_now
    FROM orders WHERE o_orderkey % 2 = 1
    GROUP BY o_orderpriority
    UNION ALL
    SELECT NULL, count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT),
           CAST(2 AS BIGINT), CAST(3 AS BIGINT)
    FROM orders WHERE o_orderkey % 2 = 0
    ORDER BY priority
"""


def restore_orders_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE certified end-to-end (sources/txlog.py restore — the
    Delta rollback verb): orders -> create v0 -> transactional DELETE
    of urgent orders (v1) -> restore v0 as a NEW commit (v2, file
    references only, nothing copied). The output aggregates the FINAL
    snapshot and carries (a) the final version (oracle: 2 — a restore
    is a commit, not an erase), (b) the full row count + cents
    (oracle: the whole table — the delete was undone), and (c) the
    comma-joined op sequence from DESCRIBE HISTORY (oracle:
    'create,delete,restore' — history is preserved through the
    rollback). One hash match certifies rollback content, commit
    semantics, and history retention at once. Output: (version,
    n_orders, total_cents, ops)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        txlog.create_table(
            spark, root, load_table(spark, sf_dir, "orders").repartition(8)
        )
        txlog.delete_where(spark, root, TT_DELETE_PRED)
        txlog.restore(spark, root, 0)

    base_dir = derived_cache_dir(
        sf_dir, "txlog_restore_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    ops = ",".join(
        r["op"] for r in txlog.history(spark, root).orderBy("version").collect()
    )
    return txlog.read_table(spark, root).agg(
        F.lit(txlog.current_version(root)).cast("long").alias("version"),
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("total_cents"),
        F.lit(ops).alias("ops"),
    )


RELATIONAL_ORACLES["restore_orders_rollback"] = """
    SELECT CAST(2 AS BIGINT) AS version,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           'create,delete,restore' AS ops
    FROM orders
"""


def txlog_partition_pruned_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hive-style partition columns on the transactional table
    (sources/txlog.py create_table(partition_by=...) — round-10
    verdict item 3): orders live in a txlog table partitioned by
    o_orderpriority, and the query reads ONLY the urgent+high
    partitions via ``read_table(partitions=...)`` — untouched
    partitions are eliminated at PLANNING time from the manifest's
    file paths, before any listing or footer IO (the inputFiles()
    comparison certifies it: the output's ``pruned`` column is 1 only
    when the partition read plans strictly fewer files than the full
    snapshot AND every planned file lives under a matching partition
    directory). At 100 TB this is date-partitioned ingest reading
    only its days. Output: (priority, n_orders, cents, pruned)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        txlog.create_table(
            spark,
            root,
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority", "o_totalprice"
            ),
            partition_by=("o_orderpriority",),
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_part_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    want = ["1-URGENT", "2-HIGH"]
    snap = txlog.read_table(
        spark, root, partitions={"o_orderpriority": want}
    )
    planned = snap.inputFiles()
    total = txlog.read_table(spark, root).inputFiles()
    pruned = int(
        0 < len(planned) < len(total)
        and all(
            any(f"/o_orderpriority={w}/" in f for w in want)
            for f in planned
        )
    )
    return (
        snap.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .withColumn("pruned", F.lit(pruned).cast("long"))
        .orderBy("priority")
    )


RELATIONAL_ORACLES["txlog_partition_pruned_revenue"] = """
    SELECT o_orderpriority AS priority, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(1 AS BIGINT) AS pruned
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    ORDER BY priority
"""


def type_widening_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type WIDENING in txlog schema evolution (round-10 verdict item
    6): v0 holds even-key orders with INT key/cents columns; the odd
    keys append at v1 with LONG types + merge_schema=True, which
    records the widened schema as an evolution commit — old narrow
    files up-cast on read (Spark 4 parquet type promotion, no file
    rewrite), and time travel at v0 still shows the INT shape. The
    output groups the final table by key parity and pins BOTH
    versions' dtypes, so the hash match certifies the widen, the
    lossless up-cast of pre-widen data, and old-snapshot type
    stability at once. Output: (half, n_orders, sum_cents,
    cents_type_v0, cents_type_now)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.floor(F.col("o_totalprice") * 100).alias("cents")
        )
        txlog.create_table(
            spark,
            root,
            base.where("o_orderkey % 2 = 0").select(
                F.col("o_orderkey").cast("int").alias("o_orderkey"),
                F.col("cents").cast("int").alias("cents"),
            ),
        )
        txlog.append(
            spark,
            root,
            base.where("o_orderkey % 2 = 1").select(
                F.col("o_orderkey").cast("long").alias("o_orderkey"),
                F.col("cents").cast("long").alias("cents"),
            ),
            merge_schema=True,
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_widen_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    t_v0 = dict(txlog.read_table(spark, root, version=0).dtypes)["cents"]
    snap = txlog.read_table(spark, root)
    t_now = dict(snap.dtypes)["cents"]
    return (
        snap.groupBy((F.col("o_orderkey") % 2).cast("long").alias("half"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(
            "half",
            "n_orders",
            "sum_cents",
            F.lit(t_v0).alias("cents_type_v0"),
            F.lit(t_now).alias("cents_type_now"),
        )
        .orderBy("half")
    )


RELATIONAL_ORACLES["type_widening_orders"] = """
    SELECT o_orderkey % 2 AS half, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS INT)) AS BIGINT)
               AS sum_cents,
           'int' AS cents_type_v0, 'bigint' AS cents_type_now
    FROM orders
    GROUP BY o_orderkey % 2
    ORDER BY half
"""


def txlog_checkpoint_log_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-action manifests + checkpoint resolution certified
    end-to-end (round-10 verdict item 2 — the manifest-scaling
    mitigation): the table commits with checkpoint_every=3, so
    ordinary commits log only O(touched files) add/remove actions and
    full manifests recur at v3/v6; the query reads the FINAL snapshot
    AND time-travels to v5 — a delta version whose resolution must
    replay checkpoint v3 + two action logs. The output also pins the
    count of delta (action-only) manifests in the log, so the hash
    match certifies that the log actually took the O(delta) shape
    rather than degenerating to full lists. Output: (label, n_orders,
    cents, n_delta_manifests)."""
    import json as _json
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        txlog.create_table(
            spark,
            root,
            base.where("o_orderkey % 8 = 0"),
            checkpoint_every=3,
        )
        for s in range(1, 8):
            txlog.append(spark, root, base.where(f"o_orderkey % 8 = {s}"))
        txlog.delete_where(spark, root, TT_DELETE_PRED)  # v8, delta

    base_dir = derived_cache_dir(
        sf_dir, "txlog_ckpt_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    n_delta = sum(
        1
        for v in range(txlog.current_version(root) + 1)
        if "files"
        not in _json.load(open(txlog._manifest_path(root, v)))
    )

    def agg(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("label"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
            F.lit(n_delta).cast("long").alias("n_delta_manifests"),
        )

    return agg(txlog.read_table(spark, root, version=5), "v5").unionByName(
        agg(txlog.read_table(spark, root), "final")
    ).orderBy("label")


# v5 = slices 0..5; final = everything minus the urgent delete; delta
# manifests = v1,v2,v4,v5,v7,v8 (v3/v6 checkpoints, v0 create) = 6
RELATIONAL_ORACLES["txlog_checkpoint_log_orders"] = f"""
    SELECT 'final' AS label, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(6 AS BIGINT) AS n_delta_manifests
    FROM orders WHERE NOT ({TT_DELETE_PRED})
    UNION ALL
    SELECT 'v5', count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT),
           CAST(6 AS BIGINT)
    FROM orders WHERE o_orderkey % 8 <= 5
    ORDER BY label
"""


def txlog_clone_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLONE certified end-to-end (sources/txlog.py clone_table — the
    Delta SHALLOW CLONE verb, upgraded to hard links so source vacuum
    can never break the clone): orders create the SOURCE table; a
    zero-copy clone is taken; the urgent orders are deleted ON THE
    CLONE ONLY; then the source is optimized and vacuumed — which
    drops the very file names the clone was linked from. The output
    aggregates BOTH tables afterwards: the oracle pins the source at
    the full corpus (the clone's delete never leaked) and the clone
    at the complement (alive and exact despite the source vacuum —
    the inode-refcount upgrade over Delta's documented shallow-clone
    hazard). Output: (label, n_orders, cents)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "clone")
        txlog.create_table(
            spark,
            src,
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .repartition(8),
        )
        txlog.clone_table(spark, src, dst)
        txlog.delete_where(spark, dst, TT_DELETE_PRED)  # clone only
        # source churn that would break a path-referencing shallow
        # clone: optimize rewrites every file, vacuum removes the old
        # names the clone linked from
        txlog.optimize(spark, src)
        txlog.vacuum(src, retain_versions=1)

    base_dir = derived_cache_dir(
        sf_dir, "txlog_clone_orders", ("orders",), build
    )

    def agg(root: str, label: str) -> DataFrame:
        return txlog.read_table(spark, root).agg(
            F.lit(label).alias("label"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )

    return (
        agg(os.path.join(base_dir, "src"), "source")
        .unionByName(agg(os.path.join(base_dir, "clone"), "clone"))
        .orderBy("label")
    )


RELATIONAL_ORACLES["txlog_clone_orders"] = f"""
    SELECT 'clone' AS label, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE NOT ({TT_DELETE_PRED})
    UNION ALL
    SELECT 'source', count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders
    ORDER BY label
"""


def txlog_zorder_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on the transactional table certified end-to-end
    (sources/txlog.py optimize(zorder_by=...) — the Delta OPTIMIZE
    ZORDER BY verb): lineitem's (l_orderkey, l_partkey, price) is
    created as 4 round-robin files (every file spans the FULL range of
    both keys — worst-case scatter), then one Z-ordered optimize
    commit rewrites the table into ~12 files each covering a small
    hyper-rectangle of the 2-D key space. The query range-filters on
    BOTH dimensions via scan_table (manifest-stats planning-time
    pruning) and emits, alongside the aggregate the oracle can state
    in plain SQL, one pruned flag PER DIMENSION (1 iff the scan
    planned strictly fewer files than the snapshot holds) — the
    property 1-D clustering cannot deliver for the second column.
    Output: (n_rows, cents, pruned_orderkey, pruned_partkey)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "lineitem_tx")
        txlog.create_table(
            spark,
            root,
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey", "l_extendedprice")
            .repartition(4),
        )
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for f in txlog.snapshot_info(root, 0)["files"]
        )
        txlog.optimize(
            spark,
            root,
            target_file_bytes=max(8 << 10, total // 12),
            zorder_by=("l_orderkey", "l_partkey"),
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_zorder_lineitem", ("lineitem",), build
    )
    root = os.path.join(base_dir, "lineitem_tx")
    bounds = txlog.read_table(spark, root).agg(
        F.max("l_orderkey").alias("mk"), F.max("l_partkey").alias("mp")
    ).first()
    khi = int(bounds["mk"]) // 4
    plo, phi = int(bounds["mp"]) // 4, int(bounds["mp"]) // 2
    n_total = len(txlog.snapshot_info(root, txlog.current_version(root))["files"])
    k_scan = txlog.scan_table(spark, root, "l_orderkey", 0, khi)
    p_scan = txlog.scan_table(spark, root, "l_partkey", plo, phi)
    pruned_k = int(0 < len(k_scan.inputFiles()) < n_total)
    pruned_p = int(0 < len(p_scan.inputFiles()) < n_total)
    return k_scan.where(
        (F.col("l_partkey") >= plo) & (F.col("l_partkey") <= phi)
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100))
        .cast("long")
        .alias("cents"),
        F.lit(pruned_k).cast("long").alias("pruned_orderkey"),
        F.lit(pruned_p).cast("long").alias("pruned_partkey"),
    )


RELATIONAL_ORACLES["txlog_zorder_revenue"] = """
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(1 AS BIGINT) AS pruned_orderkey,
           CAST(1 AS BIGINT) AS pruned_partkey
    FROM lineitem
    WHERE l_orderkey <= (SELECT CAST(floor(max(l_orderkey) / 4) AS BIGINT) FROM lineitem)
      AND l_partkey BETWEEN
          (SELECT CAST(floor(max(l_partkey) / 4) AS BIGINT) FROM lineitem)
          AND (SELECT CAST(floor(max(l_partkey) / 2) AS BIGINT) FROM lineitem)
"""


def txlog_constraints_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints + metadata-only COUNT certified end-to-end
    (sources/txlog.py add_constraint / row_count — the Delta
    ALTER TABLE ADD CONSTRAINT and metadata-only-query verbs): orders
    create the table; a cents >= 0 CHECK is added (validated against
    the whole snapshot first); a conforming batch (the %97=5 slice,
    keys negated) appends; a VIOLATING batch (negative cents) is
    rejected loudly and must leave no trace. The output's row count
    comes from :func:`row_count` — manifest metadata only, zero data
    IO — so the oracle's plain COUNT certifies the metadata ledger
    exactly; ``blocked`` pins that the violating append raised AND
    the version count shows nothing committed for it. Output:
    (n_rows_metadata, total_cents, n_constraints, blocked)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        txlog.create_table(spark, root, base.repartition(8))
        txlog.add_constraint(spark, root, "cents_nonneg", "cents >= 0")
        good = base.where("o_orderkey % 97 = 5").select(
            (-F.col("o_orderkey")).alias("o_orderkey"), "cents"
        )
        v_before_bad = txlog.append(spark, root, good)
        bad = base.limit(10).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            (-F.col("cents")).alias("cents"),
        )
        blocked = 0
        try:
            txlog.append(spark, root, bad)
        except ValueError:
            blocked = 1
        # the rejected batch must have committed NOTHING
        if txlog.current_version(root) != v_before_bad:
            blocked = 0
        with open(os.path.join(tmp, "_mark"), "w") as fh:
            fh.write(str(blocked))

    base_dir = derived_cache_dir(
        sf_dir, "txlog_constraints_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    with open(os.path.join(base_dir, "_mark")) as fh:
        blocked = int(fh.read().strip())
    n_meta = txlog.row_count(root)  # metadata only: zero data IO
    n_cons = len(txlog.constraints(root))
    return txlog.read_table(spark, root).agg(
        F.lit(n_meta).cast("long").alias("n_rows_metadata"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.lit(n_cons).cast("long").alias("n_constraints"),
        F.lit(blocked).cast("long").alias("blocked"),
    )


RELATIONAL_ORACLES["txlog_constraints_orders"] = """
    SELECT (SELECT count(*) FROM orders)
           + (SELECT count(*) FROM orders WHERE o_orderkey % 97 = 5)
               AS n_rows_metadata,
           (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) FROM orders)
           + (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                          AS BIGINT)
              FROM orders WHERE o_orderkey % 97 = 5)
               AS total_cents,
           CAST(1 AS BIGINT) AS n_constraints,
           CAST(1 AS BIGINT) AS blocked
"""


def dv_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors certified end-to-end
    (sources/txlog.py delete_where(mode="dv") — round-11 verdict item
    3): orders become a txlog table, the urgent orders are deleted as
    a DELETION VECTOR commit — per-file row positions in one sidecar,
    O(deleted rows) of metadata — and the query pins all three design
    claims at once: the table reads as the exact delete complement
    (count + cents vs the oracle), ZERO data files were rewritten
    (files_rewritten from the commit manifest, files_untouched compares
    the v0/v1 file lists name-for-name), and the metadata-only
    row_count subtracts the vectors without any data IO (n_meta equals
    the complement count). At 100 TB this is the GDPR point-delete
    answer: removing KBs no longer rewrites GBs — the read side
    anti-joins a broadcast of (file, position) pairs and OPTIMIZE
    materializes vectors away. Output: (n_orders, cents,
    files_rewritten, files_untouched, dv_rows, n_meta)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        txlog.create_table(
            spark,
            root,
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .repartition(8),
        )
        txlog.delete_where(spark, root, TT_DELETE_PRED, mode="dv")

    base_dir = derived_cache_dir(
        sf_dir, "txlog_dv_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    m = txlog._read_manifest(root, 1)
    untouched = int(
        txlog.snapshot_info(root, 1)["files"]
        == txlog.snapshot_info(root, 0)["files"]
    )
    n_meta = txlog.row_count(root)  # metadata-only: subtracts the DVs
    return txlog.read_table(spark, root).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("cents"),
        F.lit(int(m["rewrote"])).cast("long").alias("files_rewritten"),
        F.lit(untouched).cast("long").alias("files_untouched"),
        F.lit(int(m["dv_rows"])).cast("long").alias("dv_rows"),
        F.lit(n_meta).cast("long").alias("n_meta"),
    )


RELATIONAL_ORACLES["dv_delete_orders"] = f"""
    SELECT (SELECT count(*) FROM orders WHERE NOT ({TT_DELETE_PRED}))
               AS n_orders,
           (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT)
            FROM orders WHERE NOT ({TT_DELETE_PRED})) AS cents,
           CAST(0 AS BIGINT) AS files_rewritten,
           CAST(1 AS BIGINT) AS files_untouched,
           (SELECT count(*) FROM orders WHERE {TT_DELETE_PRED})
               AS dv_rows,
           (SELECT count(*) FROM orders WHERE NOT ({TT_DELETE_PRED}))
               AS n_meta
"""


def dv_cdf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed ACROSS a deletion-vector delete (round-11
    verdict item 3's second half): the same even/odd/urgent commit
    chain as ``cdf_order_changes`` — create evens v0, append odds v1
    — but the v2 urgent delete is MERGE-ON-READ (mode="dv", zero
    files rewritten). The feed must be indistinguishable from the
    copy-on-write one, so this query shares cdf_order_changes'
    EXACT oracle: v1's inserts are the odd keys, v2's deletes are
    exactly the urgent rows (derived from the dv position diff — rows
    at newly-deleted positions — not from any file diff, since no
    file changed). Output: (commit_version, change_type, n_rows,
    cents)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        txlog.create_table(
            spark, root, base.where("o_orderkey % 2 = 0").repartition(8)
        )
        txlog.append(spark, root, base.where("o_orderkey % 2 = 1"))
        txlog.delete_where(spark, root, TT_DELETE_PRED, mode="dv")

    base_dir = derived_cache_dir(
        sf_dir, "txlog_dv_cdf_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    cdf = txlog.read_changes(spark, root, from_version=0)
    return (
        cdf.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .orderBy("commit_version", "change_type")
    )


# intentionally the SAME logical oracle as cdf_order_changes: the
# feed across a dv delete must equal the feed across a cow delete
RELATIONAL_ORACLES["dv_cdf_orders"] = f"""
    SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE {TT_DELETE_PRED}
    ORDER BY commit_version, change_type
"""


def column_mapping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME/DROP COLUMN without rewrites, certified
    end-to-end (sources/txlog.py rename_column/drop_column — round-11
    verdict item 4, the Delta column-mapping design): orders become a
    txlog table; ``cents`` is RENAMED to ``total_cents`` and
    ``o_orderpriority`` is DROPPED — both metadata-only commits, pinned
    by ``files_untouched`` comparing the v0 file inodes before/after —
    then the odd-key half appends under the NEW name (its rows join
    the old files' physical column seamlessly) WITH a re-added
    ``o_orderpriority`` column, which must take a FRESH physical name:
    the query pins that pre-drop rows read NULL under the re-added
    column (the dropped era's values never resurrect, though their
    bytes still sit in the untouched files) while appended rows carry
    theirs, and that time travel at v0 still shows the original
    column names. Output: (half, n_orders, sum_cents,
    n_with_priority, files_untouched, v0_cols)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        )
        txlog.create_table(
            spark, root, base.where("o_orderkey % 2 = 0").repartition(8)
        )
        inode0 = sorted(
            os.stat(os.path.join(root, rel)).st_ino
            for rel in txlog.snapshot_info(root, 0)["files"]
        )
        txlog.rename_column(spark, root, "cents", "total_cents")  # v1
        txlog.drop_column(spark, root, "o_orderpriority")  # v2
        inode2 = sorted(
            os.stat(os.path.join(root, rel)).st_ino
            for rel in txlog.snapshot_info(root, 2)["files"]
        )
        txlog.append(  # v3: new name + re-added column
            spark,
            root,
            base.where("o_orderkey % 2 = 1").select(
                "o_orderkey",
                F.col("cents").alias("total_cents"),
                "o_orderpriority",
            ),
            merge_schema=True,
        )
        with open(os.path.join(tmp, "_mark"), "w") as fh:
            fh.write(str(int(inode0 == inode2)))

    base_dir = derived_cache_dir(
        sf_dir, "txlog_colmap_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    with open(os.path.join(base_dir, "_mark")) as fh:
        untouched = int(fh.read().strip())
    v0_cols = ",".join(
        txlog.read_table(spark, root, version=0).columns
    )
    return (
        txlog.read_table(spark, root)
        .groupBy((F.col("o_orderkey") % 2).cast("long").alias("half"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("sum_cents"),
            F.count("o_orderpriority").cast("long").alias("n_with_priority"),
        )
        .withColumn("files_untouched", F.lit(untouched).cast("long"))
        .withColumn("v0_cols", F.lit(v0_cols))
        .orderBy("half")
    )


RELATIONAL_ORACLES["column_mapping_orders"] = """
    SELECT o_orderkey % 2 AS half, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(CASE WHEN o_orderkey % 2 = 1 THEN count(*) ELSE 0 END
                AS BIGINT) AS n_with_priority,
           CAST(1 AS BIGINT) AS files_untouched,
           'o_orderkey,o_orderpriority,cents' AS v0_cols
    FROM orders
    GROUP BY o_orderkey % 2
    ORDER BY half
"""


def txlog_sql_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional table reached through PLAIN SQL only
    (sources/txlog_source.py — round-11 verdict item 7, the Spark 4
    Python Data Source API): the query registers the ``txlog`` format,
    loads the table with ``spark.read.format("txlog")``, names it as a
    temp view, and produces its result via ``spark.sql`` with no
    library read call — the access path a SQL-only session, notebook,
    or BI harness would use. The table itself carries the round-12
    protocol surface (a deletion-vector delete of the urgent orders),
    so the hash match certifies the source decodes manifests, schema
    binding, and deletion vectors identically to the JVM path — while
    :func:`txlog.read_table` stays the 100 TB fast path (codegen'd
    requested-schema scans; the Python source trades that for format-
    name ACCESS, moving whole Arrow batches, never per-row Python).
    Output: (priority, n_orders, cents)."""
    import os

    from ..sources import txlog, txlog_source
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        txlog.create_table(
            spark,
            root,
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .repartition(8),
        )
        txlog.delete_where(spark, root, TT_DELETE_PRED, mode="dv")

    base_dir = derived_cache_dir(
        sf_dir, "txlog_sql_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    txlog_source.register(spark)
    spark.read.format("txlog").option(
        "path", root
    ).load().createOrReplaceTempView("txlog_sql_orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM txlog_sql_orders_v
        GROUP BY o_orderpriority
        ORDER BY priority
        """
    )


RELATIONAL_ORACLES["txlog_sql_orders"] = f"""
    SELECT o_orderpriority AS priority, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    WHERE NOT ({TT_DELETE_PRED})
    GROUP BY o_orderpriority
    ORDER BY priority
"""


def txlog_objectstore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LogStore abstraction proven end-to-end on the simulated
    OBJECT-STORE backend (sources/logstore.py ConditionalPutLogStore —
    round-11 verdict item 2): the whole verb chain — create, append,
    deletion-vector delete, OPTIMIZE (which must materialize the
    vectors), vacuum — runs with NO hard links and NO directory fsync
    anywhere in the commit path, the S3/GCS primitive surface
    (conditional PUT + server-side copy; see logstore.py's mapping
    table). The output aggregates the final table plus a time-travel
    read at v1, pinning that snapshot resolution, optimistic commits,
    and retention behave identically to the POSIX backend — the proof
    the transaction protocol ports to object storage unchanged.
    Output: (label, n_orders, cents)."""
    import os

    from ..sources import txlog
    from ..sources.logstore import ConditionalPutLogStore
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        with txlog.using_log_store(ConditionalPutLogStore()):
            txlog.create_table(
                spark, root, base.where("o_orderkey % 2 = 0").repartition(8)
            )
            txlog.append(spark, root, base.where("o_orderkey % 2 = 1"))
            txlog.delete_where(spark, root, TT_DELETE_PRED, mode="dv")
            txlog.optimize(spark, root)  # materializes the vectors
            txlog.vacuum(root, retain_versions=3)  # keeps v1 readable

    base_dir = derived_cache_dir(
        sf_dir, "txlog_objstore_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")

    def agg(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("label"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )

    with txlog.using_log_store(ConditionalPutLogStore()):
        out = agg(txlog.read_table(spark, root), "final").unionByName(
            agg(txlog.read_table(spark, root, version=1), "v1")
        )
    return out.orderBy("label")


RELATIONAL_ORACLES["txlog_objectstore_orders"] = f"""
    SELECT 'final' AS label, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE NOT ({TT_DELETE_PRED})
    UNION ALL
    SELECT 'v1', count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders
    ORDER BY label
"""


def dv_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE via deletion vectors (round-12,
    sources/txlog.py merge(mode="dv")): a CDC batch — doubled prices
    + a 'X-MERGED' priority for every 97th order, plus brand-new
    orders above the key domain — upserts into the orders table as
    ONE commit that rewrites ZERO files: matched live rows join their
    files' deletion vectors (O(matched rows) metadata), the batch
    appends, and every pre-existing data file carries by name
    (files_rewritten + files_untouched pinned from the manifest and
    the v0/v1 file-list prefix). At 100 TB this bounds a CDC upsert
    by the BATCH, not by the table's key spread — the cow form
    rewrites every file a matched key touches. The aggregate splits
    merged/unmerged/inserted rows so the oracle certifies replace +
    insert + carry semantics in one hash. Output: (grp, n_orders,
    cents, files_rewritten, files_untouched)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        txlog.create_table(spark, root, base.repartition(8))
        upd = base.where("o_orderkey % 97 = 3").select(
            "o_orderkey",
            F.lit("X-MERGED").alias("o_orderpriority"),
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
        ins = base.where("o_orderkey % 311 = 7").select(
            (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("o_orderkey"),
            F.lit("X-INSERTED").alias("o_orderpriority"),
            "o_totalprice",
        )
        txlog.merge(spark, root, upd.unionByName(ins), ("o_orderkey",), mode="dv")

    base_dir = derived_cache_dir(
        sf_dir, "txlog_dv_merge_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    m = txlog._read_manifest(root, 1)
    v0_files = txlog.snapshot_info(root, 0)["files"]
    v1_files = txlog.snapshot_info(root, 1)["files"]
    untouched = int(v1_files[: len(v0_files)] == v0_files)
    return (
        txlog.read_table(spark, root)
        .groupBy(
            F.when(F.col("o_orderpriority") == "X-MERGED", "merged")
            .when(F.col("o_orderpriority") == "X-INSERTED", "inserted")
            .otherwise("carried")
            .alias("grp")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .withColumn(
            "files_rewritten", F.lit(int(m["rewrote"])).cast("long")
        )
        .withColumn("files_untouched", F.lit(untouched).cast("long"))
        .orderBy("grp")
    )


RELATIONAL_ORACLES["dv_merge_orders"] = """
    SELECT 'carried' AS grp, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(0 AS BIGINT) AS files_rewritten,
           CAST(1 AS BIGINT) AS files_untouched
    FROM orders WHERE o_orderkey % 97 <> 3
    UNION ALL
    SELECT 'inserted', count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT),
           CAST(0 AS BIGINT), CAST(1 AS BIGINT)
    FROM orders WHERE o_orderkey % 311 = 7
    UNION ALL
    SELECT 'merged', count(*),
           CAST(sum(CAST(floor((o_totalprice * 2) * 100) AS BIGINT))
                AS BIGINT),
           CAST(0 AS BIGINT), CAST(1 AS BIGINT)
    FROM orders WHERE o_orderkey % 97 = 3
    ORDER BY grp
"""


def txlog_sql_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED writes through the format name (round-12 verdict
    item 4, retiring the 'unpartitioned only' v1 contract of
    sources/txlog_source.py): a hive-partitioned orders table is fed
    ENTIRELY by ``df.write.format("txlog")`` — each executor task
    splits its Arrow batches by o_orderpriority and stages one file
    per partition directory — and then read back through plain SQL
    with ``.option("partition_filter", ...)``, the cache-safe SQL twin
    of ``read_table(partitions=...)``. The emitted ``pruned`` flag is
    1 iff the filtered scan planned strictly fewer input partitions
    (== files) than the snapshot holds, certifying that file
    elimination actually happened at PLANNING time — the property that
    turns a 100 TB table scan into an O(partition) read. Output:
    (priority, n_orders, cents, pruned)."""
    import json as _json
    import os

    from ..sources import txlog, txlog_source
    from ..sources.txlog_source import TxLogDataSource
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        txlog.create_table(
            spark, root, base.limit(0), partition_by=("o_orderpriority",)
        )
        txlog_source.register(spark)
        (
            base.repartition(4)
            .write.format("txlog")
            .option("path", root)
            .mode("append")
            .save()
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_sql_part_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    txlog_source.register(spark)
    pf = _json.dumps({"o_orderpriority": ["1-URGENT", "2-HIGH"]})
    n_all = len(TxLogDataSource({"path": root}).reader(None).partitions())
    n_kept = len(
        TxLogDataSource(
            {"path": root, "partition_filter": pf}
        ).reader(None).partitions()
    )
    pruned = int(0 < n_kept < n_all)
    (
        spark.read.format("txlog")
        .option("path", root)
        .option("partition_filter", pf)
        .load()
        .createOrReplaceTempView("txlog_part_orders_v")
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST({pruned} AS BIGINT) AS pruned
        FROM txlog_part_orders_v
        GROUP BY o_orderpriority
        ORDER BY priority
        """
    )


RELATIONAL_ORACLES["txlog_sql_partitioned_orders"] = """
    SELECT o_orderpriority AS priority, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(1 AS BIGINT) AS pruned
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    ORDER BY priority
"""


def txlog_sql_overwrite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mode("overwrite")`` through the format name (round-12 verdict
    item 4): the urgent slice of orders atomically REPLACES the full
    table in ONE full-manifest 'overwrite' commit — readers see the
    old table or the new one, never a mixture, prior versions stay
    time-travelable, and the pre-overwrite deletion vector dies with
    the files it indexed (no stale dv can ever leak into the new
    snapshot). The output unions the overwritten table with a
    time-travel read of v0, so the hash certifies both the replace
    semantics and the preserved history. Output: (label, n_orders,
    cents)."""
    import os

    from ..sources import txlog, txlog_source
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        txlog.create_table(spark, root, base.repartition(8))
        # a dv delete the overwrite must bury with its files
        txlog.delete_where(spark, root, "o_orderkey % 53 = 1", mode="dv")
        txlog_source.register(spark)
        (
            base.where(TT_DELETE_PRED)
            .write.format("txlog")
            .option("path", root)
            .mode("overwrite")
            .save()
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_sql_ovw_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    cur = txlog.current_version(root)
    assert txlog._read_manifest(root, cur)["op"] == "overwrite"
    assert not txlog.snapshot_info(root, cur).get("dv")  # buried
    now = txlog.read_table(spark, root).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("cents"),
    ).select(F.lit("current").alias("label"), "n_orders", "cents")
    v0 = txlog.read_table(spark, root, version=0).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("cents"),
    ).select(F.lit("v0").alias("label"), "n_orders", "cents")
    return now.unionByName(v0).orderBy("label")


RELATIONAL_ORACLES["txlog_sql_overwrite_orders"] = f"""
    SELECT 'current' AS label, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE {TT_DELETE_PRED}
    UNION ALL
    SELECT 'v0', count(*),
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders
    ORDER BY label
"""


def txlog_zorder_dv_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER composed THROUGH a deletion-vector-carrying
    snapshot (round-12 verdict item 6 — txlog_zorder_revenue predates
    dv, so the interaction was uncertified): lineitem is created as 4
    full-range files, a scattered dv delete (every 101st orderkey)
    vectors rows in EVERY file, then one Z-ordered OPTIMIZE rewrites
    the table — which must MATERIALIZE the vectors (the dead rows
    vanish physically, the new snapshot carries zero dv entries) while
    producing files whose per-dimension [min,max] boxes prune on both
    keys. Flags: pruned_orderkey / pruned_partkey as in
    txlog_zorder_revenue, plus dv_cleared = 1 iff the optimized
    snapshot's dv map is EMPTY. Output: (n_rows, cents,
    pruned_orderkey, pruned_partkey, dv_cleared)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "lineitem_tx")
        txlog.create_table(
            spark,
            root,
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey", "l_extendedprice")
            .repartition(4),
        )
        txlog.delete_where(spark, root, "l_orderkey % 101 = 0", mode="dv")
        assert txlog.snapshot_info(root, 1)["dv"]  # vectors really exist
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for f in txlog.snapshot_info(root, 0)["files"]
        )
        txlog.optimize(
            spark,
            root,
            target_file_bytes=max(8 << 10, total // 12),
            zorder_by=("l_orderkey", "l_partkey"),
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_zorder_dv_lineitem", ("lineitem",), build
    )
    root = os.path.join(base_dir, "lineitem_tx")
    cur = txlog.current_version(root)
    dv_cleared = int(not txlog.snapshot_info(root, cur).get("dv"))
    bounds = txlog.read_table(spark, root).agg(
        F.max("l_orderkey").alias("mk"), F.max("l_partkey").alias("mp")
    ).first()
    khi = int(bounds["mk"]) // 4
    plo, phi = int(bounds["mp"]) // 4, int(bounds["mp"]) // 2
    n_total = len(txlog.snapshot_info(root, cur)["files"])
    k_scan = txlog.scan_table(spark, root, "l_orderkey", 0, khi)
    p_scan = txlog.scan_table(spark, root, "l_partkey", plo, phi)
    pruned_k = int(0 < len(k_scan.inputFiles()) < n_total)
    pruned_p = int(0 < len(p_scan.inputFiles()) < n_total)
    return k_scan.where(
        (F.col("l_partkey") >= plo) & (F.col("l_partkey") <= phi)
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100))
        .cast("long")
        .alias("cents"),
        F.lit(pruned_k).cast("long").alias("pruned_orderkey"),
        F.lit(pruned_p).cast("long").alias("pruned_partkey"),
        F.lit(dv_cleared).cast("long").alias("dv_cleared"),
    )


RELATIONAL_ORACLES["txlog_zorder_dv_revenue"] = """
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(1 AS BIGINT) AS pruned_orderkey,
           CAST(1 AS BIGINT) AS pruned_partkey,
           CAST(1 AS BIGINT) AS dv_cleared
    FROM lineitem
    WHERE l_orderkey % 101 <> 0
      AND l_orderkey <= (SELECT CAST(floor(max(l_orderkey) / 4) AS BIGINT)
                         FROM lineitem WHERE l_orderkey % 101 <> 0)
      AND l_partkey BETWEEN
          (SELECT CAST(floor(max(l_partkey) / 4) AS BIGINT)
           FROM lineitem WHERE l_orderkey % 101 <> 0)
          AND (SELECT CAST(floor(max(l_partkey) / 2) AS BIGINT)
               FROM lineitem WHERE l_orderkey % 101 <> 0)
"""


def _build_update_chain(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """The UPDATE-certification commit chain, shared (one cache key)
    by txlog_update_orders and txlog_update_cdf: v0 create from
    orders, v1 cow update (urgent price doubles), v2 dv update (every
    100th key's priority -> 'X-UPDATED')."""
    import os

    from ..sources import txlog

    os.makedirs(tmp, exist_ok=True)
    root = os.path.join(tmp, "orders_tx")
    txlog.create_table(
        spark,
        root,
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartition(8),
    )
    txlog.update_where(
        spark,
        root,
        {"o_totalprice": "o_totalprice * 2"},
        TT_DELETE_PRED,
        mode="cow",
    )
    txlog.update_where(
        spark,
        root,
        {"o_orderpriority": "'X-UPDATED'"},
        "o_orderkey % 100 = 0",
        mode="dv",
    )


def txlog_update_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE — the last DML verb of the Delta triad (round-13 verdict
    item 2; sources/txlog.py update_where) — certified in BOTH
    execution modes on one table: v1 is a COPY-ON-WRITE update
    (urgent orders' price doubles; only files containing a match are
    rewritten, carried rows byte-identical), v2 is a MERGE-ON-READ
    update (every 100th orderkey's priority becomes 'X-UPDATED'; the
    old images join the deletion vector, the new images append, ZERO
    files rewritten). The aggregate reads the final table, so the
    hash certifies the composed semantics — including a dv update ON
    TOP OF rows the cow update already changed — while the flag
    columns pin the physical contracts: cow_rewrote_some (v1 rewrote
    >=1 file but committed no dv), dv_rewrote (v2's file rewrites,
    must be 0), dv_rows (v2's vectored row count), and n_meta (the
    manifest-stats row count, which must subtract the vectors without
    any scan). Reference: N/A — the Go engine mutates nothing
    (SURVEY §2.4); semantics follow Delta's UPDATE. Output:
    (n_orders, cents, n_updated_priority, cow_rewrote_some,
    dv_rewrote, dv_rows, n_meta)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    base_dir = derived_cache_dir(
        sf_dir,
        "txlog_update_orders",
        ("orders",),
        lambda tmp: _build_update_chain(spark, sf_dir, tmp),
    )
    root = os.path.join(base_dir, "orders_tx")
    m1 = txlog._read_manifest(root, 1)
    m2 = txlog._read_manifest(root, 2)
    assert m1["op"] == "update" and m2["op"] == "update"
    cow_rewrote_some = int(m1["rewrote"] >= 1 and not m1.get("dv"))
    n_meta = txlog.row_count(root)  # metadata-only: subtracts the dv
    return txlog.read_table(spark, root).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("cents"),
        F.sum(
            (F.col("o_orderpriority") == "X-UPDATED").cast("long")
        ).alias("n_updated_priority"),
        F.lit(cow_rewrote_some).cast("long").alias("cow_rewrote_some"),
        F.lit(int(m2["rewrote"])).cast("long").alias("dv_rewrote"),
        F.lit(int(m2["dv_rows"])).cast("long").alias("dv_rows"),
        F.lit(n_meta).cast("long").alias("n_meta"),
    )


RELATIONAL_ORACLES["txlog_update_orders"] = f"""
    SELECT count(*) AS n_orders,
           CAST(sum(CAST(floor(
               CASE WHEN {TT_DELETE_PRED} THEN o_totalprice * 2
                    ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(sum(CASE WHEN o_orderkey % 100 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated_priority,
           CAST(1 AS BIGINT) AS cow_rewrote_some,
           CAST(0 AS BIGINT) AS dv_rewrote,
           (SELECT count(*) FROM orders WHERE o_orderkey % 100 = 0)
               AS dv_rows,
           count(*) AS n_meta
    FROM orders
"""


def txlog_dml_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three DML verbs driven by SQL TEXT (sources/sql_dml.py —
    round-14: the catalog boundary every round carried as 'SQL DML
    verbs remain library calls' closed with a text front-end, since a
    Python DataSource cannot register catalog DML for spark.sql):
    v1 ``DELETE FROM`` (cow) drops every 50th-residue-1 key, v2
    ``UPDATE`` (dv) adds 1.0 to urgent survivors' price, v3 ``MERGE
    INTO`` with a parenthesized SELECT source zeroes every 97th key's
    price — REINSERTING the v1-deleted keys in that residue class, the
    interaction the oracle must model. Statements pass through the
    pure parser (quoted-literal/paren-safe clause splitting) to the
    library verbs, which own all semantics; the final state + the
    op history certify the dispatch end to end. Output: (n_orders,
    cents, n_zeroed, ops_ok, final_version)."""
    import os

    from ..sources import sql_dml, txlog
    from ..tables import derived_cache_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        root = os.path.join(tmp, "orders_tx")
        txlog.create_table(
            spark,
            root,
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .repartition(8),
        )
        sql_dml.sql(
            spark, f"DELETE FROM `{root}` WHERE o_orderkey % 50 = 1"
        )
        sql_dml.sql(
            spark,
            f"UPDATE `{root}` SET o_totalprice = o_totalprice + 1.0 "
            f"WHERE {TT_DELETE_PRED}",
            mode="dv",
        )
        load_table(spark, sf_dir, "orders").createOrReplaceTempView(
            "dml_orders_src"
        )
        sql_dml.sql(
            spark,
            f"MERGE INTO `{root}` USING "
            "(SELECT o_orderkey, o_orderpriority, "
            " CAST(0.0 AS DOUBLE) AS o_totalprice "
            " FROM dml_orders_src WHERE o_orderkey % 97 = 0) "
            "ON t.o_orderkey = s.o_orderkey",
        )

    base_dir = derived_cache_dir(
        sf_dir, "txlog_dml_orders", ("orders",), build
    )
    root = os.path.join(base_dir, "orders_tx")
    ops = [
        txlog._read_manifest(root, v)["op"]
        for v in range(txlog.current_version(root) + 1)
    ]
    ops_ok = int(ops == ["create", "delete", "update", "merge"])
    return txlog.read_table(spark, root).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("cents"),
        F.sum((F.col("o_totalprice") == 0.0).cast("long")).alias(
            "n_zeroed"
        ),
        F.lit(ops_ok).cast("long").alias("ops_ok"),
        F.lit(txlog.current_version(root)).cast("long").alias(
            "final_version"
        ),
    )


RELATIONAL_ORACLES["txlog_dml_orders"] = f"""
    WITH final AS (
        -- merged keys (every 97th): price zeroed, present even if
        -- the v1 delete removed them (merge reinserts)
        SELECT o_orderkey, 0.0 AS price FROM orders
        WHERE o_orderkey % 97 = 0
        UNION ALL
        -- survivors: v1 delete drops %50=1, v2 dv-update adds 1.0 to
        -- urgent rows
        SELECT o_orderkey,
               CASE WHEN {TT_DELETE_PRED} THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 97 <> 0 AND o_orderkey % 50 <> 1
    )
    SELECT count(*) AS n_orders,
           CAST(sum(CAST(floor(price * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(sum(CASE WHEN price = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zeroed,
           CAST(1 AS BIGINT) AS ops_ok,
           CAST(3 AS BIGINT) AS final_version
    FROM final
"""


def txlog_update_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed ACROSS both UPDATE modes (round-13 verdict item
    2's certification clause, same oracle shape as ``dv_cdf_orders``):
    over txlog_update_orders' exact commit chain, every updated row
    must surface as its delete(old image)+insert(new image) pair —
    v1's pairs derived from the cow rewrite's cross-file multiset diff
    (carried rows cancel exactly), v2's from the deletion-vector
    position diff plus the appended files (nothing rewritten, so
    nothing to diff). The v2 'delete' side pins image composition:
    its cents reflect v1's doubling (the old image is the row AS OF
    the parent version, not the original), which only holds if the
    feed binds each commit's files under that commit's own schema and
    dv state. Output: (commit_version, change_type, n_rows, cents)."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir

    # same cached chain (and cache key) as txlog_update_orders
    base_dir = derived_cache_dir(
        sf_dir,
        "txlog_update_orders",
        ("orders",),
        lambda tmp: _build_update_chain(spark, sf_dir, tmp),
    )
    root = os.path.join(base_dir, "orders_tx")
    cdf = txlog.read_changes(spark, root, from_version=0)
    return (
        cdf.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .orderBy("commit_version", "change_type")
    )


RELATIONAL_ORACLES["txlog_update_cdf"] = f"""
    SELECT CAST(1 AS BIGINT) AS commit_version, 'delete' AS change_type,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE {TT_DELETE_PRED}
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'insert', count(*),
           CAST(sum(CAST(floor(o_totalprice * 2 * 100) AS BIGINT))
                AS BIGINT)
    FROM orders WHERE {TT_DELETE_PRED}
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', count(*),
           CAST(sum(CAST(floor(
               CASE WHEN {TT_DELETE_PRED} THEN o_totalprice * 2
                    ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'insert', count(*),
           CAST(sum(CAST(floor(
               CASE WHEN {TT_DELETE_PRED} THEN o_totalprice * 2
                    ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 100 = 0
    ORDER BY commit_version, change_type
"""
