"""Scale-technique checks: bucketed joins plan without exchanges;
salted ops match their unsalted equivalents exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_rpc_spark.operators import scale
from map_reduce_rpc_spark.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    scale.write_bucketed_table(
        orders, "t_orders_b", "o_orderkey", 8, str(tmp_path / "ob")
    )
    scale.write_bucketed_table(
        lineitem, "t_lineitem_b", "o_orderkey", 8, str(tmp_path / "lb")
    )
    # force sort-merge (hint on a join input) so a shuffle would be visible
    joined = (
        spark.table("t_orders_b")
        .hint("merge")
        .join(spark.table("t_lineitem_b"), "o_orderkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    # and the join is still correct
    expect = orders.join(lineitem, "o_orderkey").count()
    assert joined.count() == expect


def test_salted_distinct_count_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    salted = {
        r.l_returnflag: r.n_distinct
        for r in scale.salted_distinct_count(li, "l_returnflag", "l_partkey").collect()
    }
    direct = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert salted == direct


def test_zorder_clustering_bounds_both_dimensions(spark, tmp_path):
    """Z-order vs single-column clustering, measured on the parquet
    footers: clustering by x alone leaves every file spanning the full
    y domain (y predicates skip nothing); clustering by the Morton key
    bounds each file in BOTH dimensions, so either predicate prunes."""
    import glob
    import os

    import pyarrow.parquet as pq_mod

    from map_reduce_rpc_spark.operators.scale import zorder_key
    from map_reduce_rpc_spark.sources import sinks

    n, dom = 65_536, 256  # x,y cover [0, 256)^2 exactly once
    df = spark.range(n).select(
        (F.col("id") % dom).alias("x"),
        (F.col("id") / dom).cast("long").alias("y"),
    )

    def file_boxes(path):
        boxes = []
        for p in glob.glob(os.path.join(path, "part-*.parquet")):
            md = pq_mod.ParquetFile(p).metadata
            lo = {"x": None, "y": None}
            hi = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in lo:
                        st = col.statistics
                        lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                        hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
            boxes.append(((lo["x"], hi["x"]), (lo["y"], hi["y"])))
        return boxes

    out_x = str(tmp_path / "by_x")
    sinks.write_clustered_parquet(df, out_x, ("x",), files=16)
    out_z = str(tmp_path / "by_z")
    sinks.write_clustered_parquet(
        df.withColumn("_z", zorder_key("x", "y", bits=8)), out_z, ("_z",), files=16
    )

    x_boxes = file_boxes(out_x)
    z_boxes = file_boxes(out_z)
    # x-clustering: every file spans (nearly) the whole y domain
    assert all(hy - ly > dom * 0.9 for _, (ly, hy) in x_boxes)
    # The metric file-skipping actually depends on: how many files a
    # single-dimension point predicate overlaps. Under x-clustering a
    # y-predicate overlaps EVERY file (y stats span the domain); under
    # z-clustering both predicates prune most files.
    def overlaps(boxes, dim_idx, probe):
        return sum(1 for b in boxes if b[dim_idx][0] <= probe <= b[dim_idx][1])

    probes = [17, 100, 200]
    # repartitionByRange samples its boundaries, so file edges jitter
    # run-to-run: measured worst overlap across repeated writes is
    # 8/16 — assert with margin (70%) so the test pins the pruning
    # PROPERTY (x-clustering prunes y NEVER, z prunes both dims well)
    # without flaking on a one-file boundary shift.
    z_bound = int(len(z_boxes) * 0.7)
    for p in probes:
        assert overlaps(x_boxes, 1, p) == len(x_boxes)  # y never prunes
        assert overlaps(z_boxes, 1, p) <= z_bound  # y prunes
        assert overlaps(z_boxes, 0, p) <= z_bound  # x still prunes


def test_zorder_key_is_bijective_on_the_grid(spark):
    """Morton interleave must be a bijection on [0,2^bits)^2 — any
    collision would silently merge distinct (x,y) regions into one
    cluster position."""
    from map_reduce_rpc_spark.operators.scale import zorder_key

    dom = 256
    df = spark.range(dom * dom).select(
        (F.col("id") % dom).alias("x"),
        (F.col("id") / dom).cast("long").alias("y"),
    )
    keys = df.select(zorder_key("x", "y", bits=8).alias("z"))
    assert keys.distinct().count() == dom * dom
    lo, hi = keys.agg(F.min("z"), F.max("z")).first()
    assert (lo, hi) == (0, dom * dom - 1)  # exactly the 16-bit range


def test_clustered_cache_invalidates_on_source_change(spark, tmp_path):
    """The /tmp clustered-lineitem cache must key on the SOURCE file's
    identity (mtime+size), not just the directory name: a regenerated
    testdata dir has to produce a fresh clustered copy, never silently
    serve rows from the previous generation under an oracle reading
    the live table."""
    import os
    import shutil

    from map_reduce_rpc_spark.plans import relational

    sf = str(tmp_path)
    shutil.copyfile(
        "/root/testdata/sf0.001/lineitem.parquet",
        os.path.join(sf, "lineitem.parquet"),
    )
    p1 = relational._clustered_lineitem_path(spark, sf)
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))
    # same source, same generation -> cache hit (same path)
    assert relational._clustered_lineitem_path(spark, sf) == p1
    # "regenerate" the source: same bytes, new mtime -> new cache key
    os.utime(os.path.join(sf, "lineitem.parquet"))
    p2 = relational._clustered_lineitem_path(spark, sf)
    assert p2 != p1
    assert os.path.exists(os.path.join(p2, "_SUCCESS"))
    for p in (p1, p2):
        shutil.rmtree(os.path.dirname(p), ignore_errors=True)


def test_clustered_scan_skips_files(spark, sf_dir):
    """The q6_clustered_scan layout must actually prune: each clustered
    file covers a narrow l_shipdate range, so the 1996 shipdate slice
    overlaps only a minority of files' footer min/max stats — the
    mechanism, measured, not assumed. Also asserts answer parity with
    the plain-layout q6."""
    import glob
    import os

    import pyarrow.parquet as pq_mod

    from map_reduce_rpc_spark.plans import relational

    path = relational._clustered_lineitem_path(spark, sf_dir)
    files = glob.glob(os.path.join(path, "part-*.parquet"))
    assert len(files) > 4  # enough files for skipping to mean anything

    import datetime as dt

    lo_q = dt.datetime(1996, 1, 1)
    hi_q = dt.datetime(1997, 1, 1)
    overlapping = 0
    for p in files:
        md = pq_mod.ParquetFile(p).metadata
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "l_shipdate":
                    st = col.statistics
                    fmin = st.min if fmin is None else min(fmin, st.min)
                    fmax = st.max if fmax is None else max(fmax, st.max)
        assert fmin is not None
        if fmax >= lo_q and fmin < hi_q:
            overlapping += 1
    # lineitem shipdates span ~7 years; a 1-year slice over a range-
    # clustered layout should overlap well under half the files.
    assert overlapping <= len(files) // 2, (overlapping, len(files))

    plain = relational.q6_forecast_revenue(spark, sf_dir).collect()
    clustered = relational.q6_clustered_scan(spark, sf_dir).collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in clustered]


def test_runtime_bloom_filter_prunes_fact_fact_join(spark, sf_dir):
    """Spark's runtime row-level filtering (the 100 TB fact-fact join
    lever): when a selective filter sits on one shuffle-join side,
    Catalyst builds a bloom filter from it and injects might_contain
    on the OTHER side's scan, pruning fact rows before the exchange.
    At test scale the application-side scan is below the (size-based)
    default thresholds — exactly right for small inputs — so the
    thresholds are scaled to the fixture to pin the mechanism, and
    results must be identical with and without the injection."""
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.tables import load_table

    def q():
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > 480000
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )

    baseline = {(r.o_orderpriority, r.n) for r in q().collect()}
    assert baseline  # the filter keeps some orders

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        # force a shuffle join: broadcast joins already prune and never
        # need (or get) a bloom filter
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = q()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        assert {(r.o_orderpriority, r.n) for r in df.collect()} == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_skips_partitions(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the partitioned-layout twin of the
    bloom-filter lever: a fact table PARTITIONED on the join key reads
    only the directories the (filtered) dimension side can match,
    discovered AT RUNTIME from the dimension's build-side rows. At
    100 TB this is the difference between scanning one year and
    scanning the whole lake when the year list comes from a subquery
    Catalyst can't constant-fold.

    Pins both halves: the plan carries a dynamicpruning expression on
    the fact scan's PartitionFilters, and the result equals the
    literally-filtered baseline."""
    fact_dir = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(fact_dir)

    # dimension: one attribute row per year. The predicate must be an
    # EqualTo(attr, literal) on a NON-key column: Spark's DPP rule only
    # fires for predicates isLikelySelective() deems selective (a bare
    # boolean attribute is not), and a filter on the join key itself
    # would propagate to the fact statically, defeating the
    # runtime-pruning point.
    years = orders.select("o_year").distinct().withColumn(
        "era",
        F.when(F.col("o_year") >= 2000, F.lit("recent")).otherwise(F.lit("old")),
    )
    dim_dir = str(tmp_path / "year_dim")
    years.write.mode("overwrite").parquet(dim_dir)

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("era") == "recent")
    saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        joined = (
            fact.join(dim, "o_year")
            .groupBy("o_year")
            .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        got = {(r.o_year, r.n, round(r.total, 2)) for r in joined.collect()}
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", saved
        )

    base = (
        spark.read.parquet(fact_dir)
        .where(F.col("o_year") >= 2000)
        .groupBy("o_year")
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))
    )
    want = {(r.o_year, r.n, round(r.total, 2)) for r in base.collect()}
    assert got == want and len(want) >= 2


def test_aqe_splits_skewed_join_partition(spark, sf_dir, tmp_path):
    """AQE's skew-join split — the lever the docs tell users to prefer
    over manual salting (operators/scale.py) — must actually engage: a
    fact table where ONE key holds ~90% of rows, shuffle-joined with
    skew thresholds scaled to the fixture, must show a skew-handled
    join in the final adaptive plan and match the result computed with
    the splitter disabled."""
    n, hot_frac = 200_000, 0.9
    base = spark.range(n)
    fact = base.select(
        F.when(F.rand(7) < hot_frac, F.lit(0))
        .otherwise((F.col("id") % 100) + 1)
        .alias("k"),
        (F.col("id") % 1000).alias("payload"),
    )
    dim = spark.range(101).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
    )
    fact_dir, dim_dir = str(tmp_path / "fact"), str(tmp_path / "dim")
    fact.write.parquet(fact_dir)
    dim.write.parquet(dim_dir)

    # NOTE the downstream shape matters: a groupBy on the JOIN KEY
    # right after the join requires the join's hash partitioning, and
    # OptimizeSkewedJoin refuses to split rather than break that
    # distribution (forceOptimizeSkewedJoin would add a re-shuffle).
    # A global aggregate has no required distribution, so the split
    # applies — the same reason to aggregate on a DIFFERENT key or
    # accept the extra exchange when the hot key feeds a keyed agg.
    def q():
        f = spark.read.parquet(fact_dir)
        d = spark.read.parquet(dim_dir).hint("shuffle_hash")
        return f.join(d, "k").agg(
            F.count("*").alias("n"),
            F.sum("payload").alias("s"),
            F.sum("attr").alias("a"),
        )

    keys = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        df = q()
        got = {tuple(r) for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        want = {tuple(r) for r in q().collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == want


def test_cbo_reorders_joins_by_stats(spark, sf_dir):
    """Cost-based join reordering — the catalog-stats lever: with
    ANALYZE'd column stats and CBO on, a join written
    lineitem x orders x customer(selective filter) must be reordered
    to join the filtered customer FIRST (innermost), so the fact-fact
    join sees only qualifying orders. Pinned by the flip of which join
    sits at the top of the optimized tree, plus result parity with CBO
    off. At 100 TB this is the difference between shuffling all of
    lineitem against all orders and shuffling it against the
    rich-customer slice."""
    for t in ("customer", "orders", "lineitem"):
        # overwrite mode alone still trips LOCATION_ALREADY_EXISTS when
        # a stale warehouse dir survives a dropped catalog entry
        spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
        load_table(spark, sf_dir, t).write.mode("overwrite").saveAsTable(
            f"cbo_{t}"
        )
        spark.sql(f"ANALYZE TABLE cbo_{t} COMPUTE STATISTICS FOR ALL COLUMNS")
    sql = """
      SELECT c.c_mktsegment, count(*) AS n
      FROM cbo_lineitem l
      JOIN cbo_orders o ON o.o_orderkey = l.l_orderkey
      JOIN cbo_customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_acctbal > 9000
      GROUP BY c.c_mktsegment
    """
    keys = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in keys}

    def top_join_key(plan: str) -> str:
        # the first Join line in the tree printout is the OUTERMOST
        line = next(l for l in plan.splitlines() if "Join Inner" in l)
        return "orderkey" if "o_orderkey" in line else "custkey"

    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        q_on = spark.sql(sql)
        plan_on = q_on._jdf.queryExecution().optimizedPlan().toString()
        got = {tuple(r) for r in q_on.collect()}
        spark.conf.set("spark.sql.cbo.enabled", "false")
        q_off = spark.sql(sql)
        plan_off = q_off._jdf.queryExecution().optimizedPlan().toString()
        want = {tuple(r) for r in q_off.collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for t in ("customer", "orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
    # CBO: filtered customer joins innermost -> lineitem join on top.
    # Written order: customer joins last -> custkey join on top.
    assert top_join_key(plan_on) == "orderkey", plan_on[:1500]
    assert top_join_key(plan_off) == "custkey", plan_off[:1500]
    assert got == want and got


def test_incremental_neardup_probe_cost_tracks_batch_not_corpus(spark, sf_dir, tmp_path):
    """Soak row for incremental_neardup_manifest: probing a fixed new
    batch against an 8x larger band manifest must not cost ~8x — the
    probe is a keyed join whose batch side is constant and whose
    corpus side is a 3-column columnar scan, never re-signatured text.
    Corpus copies get distinct band keys so the matched-candidate set
    (the legitimately size-dependent part) stays identical."""
    import time

    from map_reduce_rpc_spark.operators.dedup import minhash_index

    docs = load_table(spark, sf_dir, "documents")
    idx = minhash_index(docs, "doc_id", "text")
    bands = idx.select(
        "doc", F.explode("bands").alias("b")
    ).select("doc", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))

    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    bands.write.parquet(small)
    copies = [
        bands.select(
            (F.col("doc") + F.lit(i * 1_000_000)).alias("doc"),
            "band_idx",
            (
                F.col("band_key")
                if i == 0
                else F.concat_ws("#", "band_key", F.lit(str(i)))
            ).alias("band_key"),
        )
        for i in range(8)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.parquet(big)

    batch = bands  # the fixed "new batch" probe side

    def probe(path):
        store = spark.read.parquet(path).withColumnRenamed("doc", "store_doc")
        return batch.join(store, ["band_idx", "band_key"]).count()

    # warm both paths once (JIT/classload outside the measurement)
    n_small, n_big = probe(small), probe(big)
    assert n_small == n_big  # distinct copy keys: no extra matches
    t0 = time.perf_counter(); probe(small); t_small = time.perf_counter() - t0
    t0 = time.perf_counter(); probe(big); t_big = time.perf_counter() - t0
    assert t_big < 3 * max(t_small, 0.05), (t_small, t_big)


def test_compacted_bucketed_query_layout(spark, sf_dir):
    """The segment_order_stats_compacted layout pipeline: compaction
    actually reduced the fragmented 64-file write to a handful of
    files, and the bucketed customer-orders join plans with no
    Exchange upstream of the join (the only shuffle is the final
    5-row segment aggregation)."""
    import glob
    import os

    from map_reduce_rpc_spark.plans.relational import (
        _compacted_bucketed_tables,
        segment_order_stats_compacted,
    )

    ct, ot = _compacted_bucketed_tables(spark, sf_dir)
    # the bucketed orders table was built FROM the compacted dir; its
    # source fragment dir must have been compacted below 64 files
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {ot}")
        .where(F.col("col_name") == "Location")
        .collect()[0][1]
    )
    frag = os.path.join(os.path.dirname(loc.replace("file:", "")), "orders_frag")
    n_files = len(glob.glob(os.path.join(frag, "*.parquet")))
    assert 0 < n_files < 64, f"compaction left {n_files} files"

    # At tiny SF the optimizer rightly broadcasts (also shuffle-free);
    # force sort-merge so the bucket spec must carry the partitioning —
    # any missing bucket alignment would surface as an Exchange.
    joined = spark.table(ct).hint("merge").join(
        spark.table(ot), F.col("c_custkey") == F.col("o_custkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:3000]
    # and the registered query's rows match the plain layout
    got = {
        tuple(r)
        for r in segment_order_stats_compacted(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    want = {
        tuple(r)
        for r in cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .collect()
    }
    assert got == want


def test_zorder_beats_range_clustering_on_second_dim(spark, sf_dir):
    """The honest Z-order claim, measured: interleaving trades the
    leading column's resolution for pruning on EVERY clustered column.
    Gates: (1) under a quantity-only predicate the shipdate-range
    layout cannot skip a single file (quantity is unclustered there)
    while the Z-order layout skips some; (2) under the 2-D Q6
    predicate the Z-order layout opens at most ~half the files;
    (3) the Z-order layout still retains shipdate locality (the
    1996 slice skips at least some files there too)."""
    import datetime as dt
    import glob
    import os

    import pyarrow.parquet as pq_mod

    from map_reduce_rpc_spark.plans import relational

    def file_stats(path, col_name):
        out = {}
        for p in glob.glob(os.path.join(path, "part-*.parquet")):
            md = pq_mod.ParquetFile(p).metadata
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == col_name:
                        st = col.statistics
                        fmin = st.min if fmin is None else min(fmin, st.min)
                        fmax = st.max if fmax is None else max(fmax, st.max)
            assert fmin is not None
            out[p] = (fmin, fmax)
        return out

    zpath = relational._zordered_lineitem_path(spark, sf_dir)
    rpath = relational._clustered_lineitem_path(spark, sf_dir)
    lo_d, hi_d = dt.datetime(1996, 1, 1), dt.datetime(1997, 1, 1)

    def frac_overlapping(path, with_ship, with_qty):
        ship = file_stats(path, "l_shipdate")
        qty = file_stats(path, "l_quantity")
        files = list(ship)
        n = 0
        for p in files:
            ok = True
            if with_ship:
                ok = ok and ship[p][1] >= lo_d and ship[p][0] < hi_d
            if with_qty:
                ok = ok and qty[p][0] < 24
            n += ok
        return n / len(files), len(files)

    r_qty, r_n = frac_overlapping(rpath, with_ship=False, with_qty=True)
    z_qty, z_n = frac_overlapping(zpath, with_ship=False, with_qty=True)
    assert r_n > 4 and z_n > 4
    # (1) second dimension: range layout opens everything, Z-order skips
    assert r_qty == 1.0, f"range layout unexpectedly pruned quantity: {r_qty}"
    assert z_qty < 1.0, f"zorder layout pruned nothing on quantity: {z_qty}"
    # (2) the composed 2-D predicate opens a minority of zorder files
    z_2d, _ = frac_overlapping(zpath, with_ship=True, with_qty=True)
    assert z_2d <= 0.6, f"zorder 2-D overlap too high: {z_2d}"
    # (3) shipdate locality survives interleaving (coarser than the 1-D
    # range layout, but still a strict subset of the files)
    z_ship, _ = frac_overlapping(zpath, with_ship=True, with_qty=False)
    assert z_ship < 1.0, f"zorder lost shipdate locality: {z_ship}"


def test_merge_delete_bounds_rewrite_and_removes_emptied_partitions(spark, tmp_path):
    """The delete verb's two scale gates, byte-level: (1) deleting one
    key rewrites ONLY that key's bucket — every other bucket's files
    keep their inode+mtime; (2) a bucket whose rows are ALL deleted is
    REMOVED — dynamic overwrite only rewrites partitions present in
    the output, so without the explicit cleanup the emptied bucket
    would silently keep its old files (the classic delete-verb bug)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.sources.sinks import merge_delete_parquet

    path = str(tmp_path / "t")
    # bucket = user id itself -> one user per partition, so "delete all
    # of user 3" empties partition _b=3 exactly
    df = spark.range(200).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 8).alias("user_id"),
        (F.col("id") % 8).alias("_b"),
    )
    df.write.partitionBy("_b").parquet(path)

    def stat_map():
        return {
            p: (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(path, "_b=*", "*.parquet"))
        }

    before = stat_map()
    victims = spark.createDataFrame([(3,)], "user_id long")
    merge_delete_parquet(spark, path, victims, ("user_id",), ("_b",))
    after = stat_map()
    # (2) bucket 3 is gone entirely
    assert not os.path.exists(os.path.join(path, "_b=3"))
    # (1) every other bucket untouched on disk
    for p, st in before.items():
        if f"_b=3{os.sep}" in p:
            continue
        assert after.get(p) == st, f"rewrote untouched {p}"
    got = spark.read.parquet(path)
    assert got.where("user_id = 3").count() == 0
    assert got.count() == 200 - 25  # 200/8 rows per user
    # idempotence: re-deleting is a no-op for untouched buckets
    merge_delete_parquet(spark, path, victims, ("user_id",), ("_b",))
    assert spark.read.parquet(path).count() == 175


def _bench():
    """bench.py loaded as a module (it is a script, not a package)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def _baseline(per_query_sec, samples=None, sf=0.1, cpus=4) -> dict:
    """A bench_results.json baseline stamped with ``sf`` and ``cpus``."""
    return {"sf": sf, "cpus": cpus, "per_query_sec": per_query_sec, "timed_samples_sec": samples or {}}


def test_bench_regression_gate():
    """bench.py's round-over-round gate (round-6 verdict item 3):
    >1.25x AND >0.5s absolute at the same sf and cpus flags;
    sub-threshold drift does not, and a baseline at another sf or
    cpus, or one that records no cpus, is refused with a reason."""
    bench = _bench()

    prev = {"fast": 0.2, "slow": 2.0, "mid": 1.0}
    now = {"fast": 0.5, "slow": 2.9, "mid": 1.2, "new_query": 9.0}
    # fast: 2.5x but only +0.3s -> jitter floor holds it back
    # slow: 1.45x and +0.9s -> flagged
    # mid: +0.2s, 1.2x -> clean;  new_query: no previous -> skipped
    got = bench.compute_regressions(now, _baseline(prev), 0.1, 4)
    assert set(got) == {"slow"}
    assert got["slow"] == {
        "prev_sec": 2.0,
        "now_sec": 2.9,
        "prev_median_sec": 2.0,
    }
    assert bench.baseline_refusal(_baseline(prev), 0.1, 4) is None
    # an unlike or unstamped baseline -> refused, gate disarmed entirely
    unstamped = {"sf": 0.1, "per_query_sec": prev}
    for base, sf, cpus, why in (
        (_baseline(prev), 0.01, 4, "sf"),
        (_baseline(prev, cpus=8), 0.1, 4, "cpus"),
        (unstamped, 0.1, 4, "no cpus"),
        ({}, 0.1, 4, "no baseline"),
    ):
        assert why in bench.baseline_refusal(base, sf, cpus)
        assert bench.compute_regressions(now, base, sf, cpus) == {}

    # MEDIAN anchoring (round-13 verdict item 1, replayed verbatim):
    # the committed pagerank_directed_suppliers baseline was min-of-
    # [5.06, 4.89, 3.675] = a one-in-three lucky tail; the driver's
    # consistent re-run of UNTOUCHED code ([5.20, 4.79, 5.22], min
    # 4.79) must produce ZERO flags once the gate anchors on the
    # baseline median (4.89) instead of its min
    prev2 = {"pagerank_directed_suppliers": 3.675}
    samples2 = {"pagerank_directed_suppliers": [5.06, 4.89, 3.675]}
    assert (
        bench.compute_regressions(
            {"pagerank_directed_suppliers": 4.793}, _baseline(prev2, samples2), 0.1, 4
        )
        == {}
    )
    # a GENUINE regression still flags: well past 1.25x the median
    got2 = bench.compute_regressions(
        {"pagerank_directed_suppliers": 6.5}, _baseline(prev2, samples2), 0.1, 4
    )
    assert set(got2) == {"pagerank_directed_suppliers"}
    assert got2["pagerank_directed_suppliers"]["prev_median_sec"] == 4.89
    # corrupt/short samples can only RAISE the anchor, never lower it
    # below the recorded min (even-length list -> midpoint average)
    got3 = bench.compute_regressions(
        {"q": 2.9}, _baseline({"q": 2.0}, {"q": [0.1, 0.2]}), 0.1, 4
    )
    assert got3["q"]["prev_median_sec"] == 2.0


def test_bench_adjudication_fold():
    """bench.py's post-run adjudication (round 14): re-run samples of
    flagged queries fold into the timing maps (min over ALL samples,
    appended to timed_samples), and the gate recomputes — a burst-
    inflated flag whose re-run lands at baseline CLEARS; a genuine
    regression that re-measures slow KEEPS its flag."""
    bench = _bench()

    prev = {"bursty": 2.0, "broken": 2.0}
    timings = {"bursty": 5.0, "broken": 5.0}
    samples = {"bursty": [5.0, 5.2, 5.1], "broken": [5.0, 5.2, 5.1]}
    # bursty re-measures at baseline; broken re-measures slow
    rerun = {"bursty": [2.05, 1.98, 2.1], "broken": [4.9, 5.0, 5.1]}
    regs, record = bench.fold_adjudication(
        timings, samples, rerun, _baseline(prev), 0.1, 4
    )
    assert set(regs) == {"broken"}
    assert record["bursty"]["cleared"] is True
    assert record["broken"]["cleared"] is False
    # min over all samples becomes the reported number...
    assert timings["bursty"] == 1.98
    assert timings["broken"] == 4.9
    # ...and every sample (inflated and clean) stays recorded
    assert len(samples["bursty"]) == 6
    # a re-run of an unknown/errored query is ignored, not folded
    regs2, record2 = bench.fold_adjudication(
        {"q": 1.0}, {"q": [1.0]}, {"ghost": [9.9], "q": []}, _baseline({}), 0.1, 4
    )
    assert regs2 == {} and record2 == {}


def test_bench_final_line_bounded():
    """The driver parses bench.py's LAST stdout line from a ~2 KB tail
    capture; round 12's 30-flag contended run overflowed it and the
    round recorded no bench metric at all (BENCH_r12 parsed: null).
    Pin the contract: even a pathologically noisy run — 40 regression
    flags with long query names, 23 ladder families, hundreds of
    timings — emits a final line comfortably under 2000 bytes, and the
    capped fields still carry the true counts."""
    import json

    bench = _bench()

    timings = {f"very_long_query_name_{i:03d}": i / 7.0 for i in range(211)}
    regressions = {
        f"very_long_query_name_{i:03d}": {
            "prev_sec": 1.0 + i / 10,
            "now_sec": 3.0 + i,
        }
        for i in range(40)
    }
    exponents = {f"family_with_a_long_name_{i}": 0.5 for i in range(23)}
    superlinear = [f"family_with_a_long_name_{i}" for i in range(23)]
    line = bench.final_stdout_line(
        total=228.5,
        sf_val=0.1,
        timings=timings,
        errors={},
        regressions=regressions,
        ladder_exponents=exponents,
        ladder_superlinear=superlinear,
        warm_total=228.5,
        cold_total=352.1,
    )
    assert len(line.encode()) < 2000, len(line.encode())
    parsed = json.loads(line)
    assert parsed["n_regressions"] == 40  # true count survives the cap
    assert len(parsed["regressions"]) == 5  # worst 5 inline only
    # worst-by-absolute-slowdown ordering: the last flags dominate
    assert "very_long_query_name_039" in parsed["regressions"]
    assert len(parsed["queries"]) == 10
    # the clean-run shape the driver usually sees parses too
    clean = bench.final_stdout_line(
        169.0, 0.1, timings, {}, {}, exponents, [], 169.0, 257.4
    )
    assert len(clean.encode()) < 2000
    assert "regressions" not in json.loads(clean)
    # round-15 contention telemetry: n_adjudicated appears only when
    # nonzero (clean runs stay byte-identical to the r14 shape), and a
    # noisy run with it set still fits the tail budget
    assert "n_adjudicated" not in json.loads(clean)
    noisy = bench.final_stdout_line(
        total=228.5,
        sf_val=0.1,
        timings=timings,
        errors={},
        regressions=regressions,
        ladder_exponents=exponents,
        ladder_superlinear=superlinear,
        warm_total=228.5,
        cold_total=352.1,
        n_adjudicated=25,
        cpus=32,
    )
    assert len(noisy.encode()) < 2000
    assert json.loads(noisy)["n_adjudicated"] == 25
    assert json.loads(noisy)["cpus"] == 32


def test_bench_measure_layers(spark, sf_dir, monkeypatch):
    """bench.py's per-query record on a registry query: every timed run
    launched Spark jobs, stages and tasks, the fastest run splits into
    construct_s + exec_s exactly, and the plan probe took time."""
    import pytest

    import __spark_entry__

    bench = _bench()
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    # start the recorder at this session's latest job, not at job 0:
    # earlier tests' jobs may be trimmed from the status store already
    spark.range(1).count()
    rec = bench._Recorder(spark)
    rec._next_job = max(spark.sparkContext.statusTracker().getJobIdsForGroup(None)) + 1
    fn = __spark_entry__.queries()["q3_shipping_priority"]
    got = bench.measure(spark, rec, fn, spark.sparkContext.defaultParallelism)
    layers = got["layers"]
    assert len(got["samples"]) == bench.TIMED_RUNS
    for k in ("jobs", "stages", "tasks"):
        assert len(layers[k]) == bench.TIMED_RUNS
        assert min(layers[k]) >= 1, (k, layers[k])
    assert layers["construct_s"] + layers["exec_s"] == pytest.approx(min(got["samples"]))
    assert layers["plan_s"] > 0


def test_merge_delete_torn_write_rerun_converges(spark, tmp_path, monkeypatch):
    """Crash-under-write for the delete verb (the reference's whole
    test philosophy, test-mr.sh crash suite): merge_delete_parquet
    runs [dynamic overwrite of touched partitions] THEN [sweep of
    fully-emptied partition dirs]. Inject a crash BETWEEN the two —
    the torn state keeps an emptied bucket's OLD files (victims
    visible again!) — and assert a plain re-run converges to the
    correct table and removes the stale dir (idempotence, the same
    at-least-once -> exactly-once story as the MERGE sinks)."""
    import glob
    import os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.sources.sinks import merge_delete_parquet

    path = str(tmp_path / "t")
    df = spark.range(200).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 8).alias("user_id"),
        (F.col("id") % 8).alias("_b"),
    )
    df.write.partitionBy("_b").parquet(path)
    victims = spark.createDataFrame([(3,)], "user_id long")

    real_rmtree = _shutil.rmtree
    calls = {"n": 0}

    def torn_rmtree(p, *a, **kw):
        # the sweep's first rmtree is the injected crash point; every
        # other rmtree (e.g. unrelated temp cleanup) passes through
        if f"_b=3" in str(p):
            calls["n"] += 1
            if calls["n"] == 1:
                raise OSError("injected crash between overwrite and sweep")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", torn_rmtree)
    try:
        merge_delete_parquet(spark, path, victims, ("user_id",), ("_b",))
        raise AssertionError("injection did not fire")
    except OSError as exc:
        assert "injected crash" in str(exc)

    # TORN STATE: bucket dir survived the crash with its old files —
    # a read sees the victims again (plain parquet has no snapshot
    # isolation; this is exactly why the verb must be re-runnable)
    assert os.path.isdir(os.path.join(path, "_b=3"))
    assert glob.glob(os.path.join(path, "_b=3", "*.parquet"))
    assert spark.read.parquet(path).where("user_id = 3").count() == 25

    # plain re-run: same call, no special recovery mode
    merge_delete_parquet(spark, path, victims, ("user_id",), ("_b",))
    assert not os.path.exists(os.path.join(path, "_b=3"))
    got = spark.read.parquet(path)
    assert got.where("user_id = 3").count() == 0
    assert got.count() == 175


def test_split_hot_key_join_matches_plain_under_extreme_skew(spark):
    """The hot/cold routed join must equal the plain inner join
    row-for-row on data where one key holds half the fact — including
    keys exactly AT the threshold and dim keys with no fact rows."""
    n = 2000
    fact = spark.range(n).select(
        F.when(F.col("id") < n // 2, F.lit(7))  # key 7: 50% of rows
        .otherwise(F.pmod(F.col("id"), F.lit(50)))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
    )  # keys 50-59 never appear in the fact
    plain = fact.join(dim, "k")
    routed = scale.split_hot_key_join(fact, dim, on="k", hot_threshold=20)
    assert routed.count() == plain.count()
    assert (
        routed.exceptAll(plain).count() == 0
        and plain.exceptAll(routed).count() == 0
    )
    # and the hot path actually engaged: key 7 exceeds the threshold,
    # and its joined row count equals its fact row count (dim is unique)
    hot_fact_rows = fact.where(F.col("k") == 7).count()
    assert hot_fact_rows >= 20
    assert routed.where(F.col("k") == 7).count() == hot_fact_rows


def test_split_hot_key_join_all_cold_and_all_hot_edges(spark):
    fact = spark.range(100).select(
        F.pmod(F.col("id"), F.lit(10)).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(10).select(F.col("id").alias("k"))
    plain_n = fact.join(dim, "k").count()
    # threshold larger than any key count -> pure cold path
    assert scale.split_hot_key_join(fact, dim, "k", 10**6).count() == plain_n
    # threshold 1 -> every key hot -> pure broadcast path
    assert scale.split_hot_key_join(fact, dim, "k", 1).count() == plain_n


def test_bloom_prefilter_no_false_negatives_and_join_identity(spark):
    """prune-then-join == plain join row-for-row, and the pruned set is
    a SUPERSET of the true matches (Bloom filters never drop a real
    key) — checked both at the default sizing and at a deliberately
    undersized m_bits=64 where false positives are rampant."""
    fact = spark.range(5000).select(
        F.pmod(F.col("id") * 37, F.lit(701)).alias("k"),
        F.col("id").alias("payload"),
    )
    build = spark.range(40).select((F.col("id") * 17).alias("k"))
    plain = fact.join(build, "k")
    for m in (1 << 20, 64):  # well-sized, then FP-saturated
        pruned = scale.bloom_prefilter(fact, build, on="k", m_bits=m)
        # superset of true matches: no real match was dropped
        assert plain.select("k", "payload").exceptAll(
            pruned.select("k", "payload")
        ).count() == 0
        # and the follow-up join removes every false positive
        routed = pruned.join(build, "k")
        assert (
            routed.exceptAll(plain).count() == 0
            and plain.exceptAll(routed).count() == 0
        )


def test_bloom_prefilter_fact_side_stays_shuffle_free(spark):
    """The fact side must reach the bit-test join without any shuffle:
    the only ShuffleExchange in the plan belongs to the (tiny) build
    side's bitmap aggregation, and the word table arrives broadcast."""
    fact = spark.range(10000).select(F.pmod(F.col("id"), F.lit(97)).alias("k"))
    build = spark.range(10).select(F.col("id").alias("k"))
    pruned = scale.bloom_prefilter(fact, build, on="k")
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastExchange" in final, final[:2000]
    n_shuffles = final.count("Exchange") - final.count("BroadcastExchange")
    assert n_shuffles <= 1, final[:2000]  # build-side bitmap agg only


def test_registered_dpp_query_prunes_at_runtime(spark, sf_dir):
    """The REGISTERED dpp_quarter_revenue (driver-certified against
    the plain oracle) must actually exercise the mechanism the test
    above pins in isolation: its executed plan carries a
    dynamicpruning expression on the month-partitioned fact scan, and
    the quarter resolves to exactly 3 month rows."""
    from map_reduce_rpc_spark.plans.relational import dpp_quarter_revenue

    df = dpp_quarter_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    rows = df.collect()
    assert len(rows) == 3 and all(r["n_orders"] > 0 for r in rows)


def test_hdr_bucket_is_exact_inverse_and_order_preserving(spark):
    """HDR sketch bucket function properties over an adversarial value
    sweep (all small values, every power-of-two boundary ±1, random
    large values): (1) decode bounds bracket the value, (2) bucketing
    is weakly order-preserving, (3) relative bucket width — the hard
    accuracy guarantee of the quantile estimate — is <= 2^-(m-1)."""
    from map_reduce_rpc_spark.plans.events import (
        HDR_SUBBITS,
        _hdr_bounds,
        _hdr_bucket,
    )

    vals = set(range(1, 2100))
    for e in range(11, 62):
        vals |= {2**e - 1, 2**e, 2**e + 1}
    vals |= {(37 * 10**k) // 7 + 1 for k in range(3, 18)}
    df = spark.createDataFrame([(v,) for v in sorted(vals)], "cents long")
    lo, hi = _hdr_bounds("bucket")
    got = (
        df.select("cents", _hdr_bucket("cents").alias("bucket"))
        .select("cents", "bucket", lo.alias("lo"), hi.alias("hi"))
        .orderBy("cents")
        .collect()
    )
    prev_bucket = 0
    for r in got:
        assert r.lo <= r.cents <= r.hi, r
        assert r.bucket >= prev_bucket, r  # order-preserving
        prev_bucket = r.bucket
        # hard accuracy bound: bucket width / lower bound
        assert (r.hi - r.lo) <= r.lo * 2 ** -(HDR_SUBBITS - 1) + 1, r
