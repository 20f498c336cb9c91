"""``spark.readStream.format("txlog")`` — the streaming SOURCE over
the commit-log version cursor (round-12 verdict item 3): append feed
by default, full change feed with ``change_feed=true``; exact offset
ranges via Spark's own checkpointed offset log (restart = replay from
the committed version, no duplicates); loud errors for the shapes a
per-file streaming source must not guess at (rewrites, schema drift,
non-append changes in append mode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_rpc_spark.sources import txlog, txlog_source


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog.create_table(
        spark,
        root,
        spark.range(0, 40).select(
            "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("val")
        ),
        partition_by=("p",),
    )
    txlog_source.register(spark)
    return root


def _drain(spark, root, ckpt, sink, view, **opts):
    reader = spark.readStream.format("txlog").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(sink)
    got.createOrReplaceTempView(view)
    return got


def test_append_feed_exact_and_incremental(spark, table, tmp_path):
    """First drain delivers the full history (starting_version=-1),
    a second drain from the SAME checkpoint delivers only commits
    after the stored offset — and a third with nothing new delivers
    nothing (no duplicates across restarts: the offset IS the version
    cursor)."""
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "out")
    got = _drain(spark, table, ckpt, sink, "s1")
    assert got.count() == 40
    assert got.agg(F.sum("id")).first()[0] == sum(range(40))
    assert dict(got.dtypes)["p"] == "bigint"  # typed from the path

    txlog.append(
        spark,
        table,
        spark.range(40, 50).select(
            "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("val")
        ),
    )
    got = _drain(spark, table, ckpt, sink, "s2")
    assert got.count() == 50  # only the 10 new rows were read
    got = _drain(spark, table, ckpt, sink, "s3")
    assert got.count() == 50


def test_append_feed_starting_version(spark, table, tmp_path):
    """starting_version=N skips the history at or before N (Delta's
    startingVersion): only commits in (N, current] stream."""
    txlog.append(
        spark,
        table,
        spark.range(100, 110).select(
            "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("val")
        ),
    )
    got = _drain(
        spark,
        table,
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
        "sv",
        starting_version="0",
    )
    assert got.count() == 10
    assert got.agg(F.min("id")).first()[0] == 100


def test_append_feed_refuses_deletes(spark, table, tmp_path):
    """The default stream declared itself append-only: a dv delete
    arriving mid-stream is a LOUD failure, never silently missing
    rows (Delta's default readStream contract)."""
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "out")
    _drain(spark, table, ckpt, sink, "d1")
    txlog.delete_where(spark, table, "id < 4", mode="dv")
    with pytest.raises(Exception, match="non-append|APPEND feed"):
        _drain(spark, table, ckpt, sink, "d2")


def test_change_feed_dv_delete_and_inserts(spark, table, tmp_path):
    """change_feed=true delivers row-level changes: creates/appends
    as inserts, a dv delete as EXACTLY its newly-dead rows (O(dv) —
    the positions are taken from the parquet file, never a diff),
    each stamped with _change_type and _commit_version."""
    txlog.delete_where(spark, table, "id IN (3, 17)", mode="dv")
    got = _drain(
        spark,
        table,
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
        "cf",
        change_feed="true",
    )
    assert set(got.columns) >= {"id", "p", "val", "_change_type", "_commit_version"}
    ins = got.where("_change_type = 'insert'")
    dels = got.where("_change_type = 'delete'")
    assert ins.count() == 40 and dels.count() == 2
    assert {r["id"] for r in dels.collect()} == {3, 17}
    assert dels.select("_commit_version").distinct().first()[0] == 1
    # parity with the library change feed
    exp = txlog.read_changes(spark, table, -1)
    assert exp.count() == got.count()
    assert (
        exp.groupBy("_change_type").count().orderBy("_change_type").collect()
        == got.groupBy("_change_type").count().orderBy("_change_type").collect()
    )


def test_change_feed_skips_optimize_and_refuses_rewrites(
    spark, table, tmp_path
):
    """OPTIMIZE commits (dataChange=false) stream ZERO rows; a
    copy-on-write rewrite (delete mode=cow rewrites survivors) raises
    and points at ChangeFeedReader — per-file streaming cannot cancel
    carried rows and must say so rather than emit phantom changes."""
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "out")
    got = _drain(
        spark, table, ckpt, sink, "o1", change_feed="true"
    )
    assert got.count() == 40
    txlog.optimize(spark, table)
    got = _drain(
        spark, table, ckpt, sink, "o2", change_feed="true"
    )
    assert got.count() == 40  # nothing new: optimize nets to zero
    txlog.delete_where(spark, table, "id < 8", mode="cow")
    with pytest.raises(Exception, match="rewrite|ChangeFeedReader"):
        _drain(spark, table, ckpt, sink, "o3", change_feed="true")


def test_stream_schema_change_is_loud(spark, table, tmp_path):
    """A schema evolution arriving while a stream is LIVE raises
    (silently reading new-schema files under the pinned schema would
    drop the new column's data); a RESTARTED stream rebinds the new
    schema and reads the delta — the Delta contract on both sides."""
    from map_reduce_rpc_spark.sources.txlog_source import TxLogDataSource

    # a live reader instance, pinned at the pre-evolution schema
    ds = TxLogDataSource({"path": table})
    reader = ds.streamReader(None)
    assert len(reader.partitions({"version": -1}, {"version": 0})) > 0
    v0 = txlog.current_version(table)
    txlog.append(
        spark,
        table,
        spark.range(50, 60).select(
            "id",
            (F.col("id") % 4).alias("p"),
            (F.col("id") * 2).alias("val"),
            F.lit("x").alias("tag"),
        ),
        merge_schema=True,
    )
    with pytest.raises(RuntimeError, match="[Ss]chema changed"):
        reader.partitions(
            {"version": v0}, {"version": txlog.current_version(table)}
        )
    # a fresh stream (restart) rebinds and delivers everything
    got = _drain(
        spark, table, str(tmp_path / "ck"), str(tmp_path / "out"), "e2"
    )
    assert got.count() == 50
    assert got.where("tag IS NOT NULL").count() == 10


def test_max_versions_per_trigger_rate_limit(spark, table, tmp_path):
    """max_versions_per_trigger bounds each STEADY-STATE micro-batch
    to N commits past the last batch the reader planned. The cursor is
    anchored in partitions(start, end) — the only authoritative signal
    the Python stream reader gets (Spark 4.1's runner prefetches
    latestOffset BEFORE initialOffset and never exposes the recovered
    checkpoint offset, so capping from anything else could wedge a
    restarted stream below its committed cursor; measured, see
    latestOffset). Net: the first batch after (re)start drains the
    backlog uncapped, every batch after it is bounded — pinned at the
    runner-call level here, plus an e2e drain that must stay
    exactly-once with the option set."""
    from map_reduce_rpc_spark.sources.txlog_source import TxLogDataSource

    for lo in (100, 200):
        txlog.append(
            spark,
            table,
            spark.range(lo, lo + 10).select(
                "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("val")
            ),
        )
    ds = TxLogDataSource({"path": table, "max_versions_per_trigger": "1"})
    r = ds.streamReader(None)
    # the runner's real call order: latestOffset FIRST (no cursor yet
    # -> uncapped backlog drain), then initialOffset, then partitions
    assert r.latestOffset() == {"version": 2}
    assert r.initialOffset() == {"version": -1}
    r.partitions({"version": -1}, {"version": 2})  # batch 0 planned
    # three more commits land; steady-state batches now cap at 1 each
    for lo in (300, 400, 500):
        txlog.append(
            spark,
            table,
            spark.range(lo, lo + 10).select(
                "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("val")
            ),
        )
    assert r.latestOffset() == {"version": 3}
    r.partitions({"version": 2}, {"version": 3})
    assert r.latestOffset() == {"version": 4}
    r.partitions({"version": 3}, {"version": 4})
    assert r.latestOffset() == {"version": 5}
    r.partitions({"version": 4}, {"version": 5})
    assert r.latestOffset() == {"version": 5}  # caught up: no regress
    with pytest.raises(ValueError, match=">= 1"):
        TxLogDataSource(
            {"path": table, "max_versions_per_trigger": "0"}
        ).streamReader(None)
    # e2e: a drain with the option set stays exactly-once
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "out")
    got = _drain(
        spark, table, ckpt, sink, "rl1", max_versions_per_trigger="2"
    )
    assert got.count() == 90
    got = _drain(
        spark, table, ckpt, sink, "rl2", max_versions_per_trigger="2"
    )
    assert got.count() == 90  # caught up: nothing redelivered


def test_stream_writer_requires_app_id(spark, table, tmp_path):
    """The round-12 ADVICE fix: a default shared app_id would make two
    independent streams swallow each other's batches as duplicates —
    the sink now refuses to start without an explicit one."""
    src = str(tmp_path / "src")
    spark.range(0, 5).select(
        "id", F.lit(0).alias("p"), F.lit(0).alias("val")
    ).write.parquet(src)
    q = (
        spark.readStream.schema("id long, p bigint, val long")
        .parquet(src)
        .writeStream.format("txlog")
        .option("path", table)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
    )
    with pytest.raises(Exception, match="app_id"):
        q.start().awaitTermination(120)


def test_stream_read_write_roundtrip_exactly_once(spark, tmp_path):
    """The full loop through the format name: readStream from one
    txlog table -> writeStream into another, exactly-once on both
    sides (offset log upstream, (app_id, batchId) idempotence
    downstream); a second availableNow run moves nothing."""
    src_root = str(tmp_path / "src_tx")
    dst_root = str(tmp_path / "dst_tx")
    txlog.create_table(
        spark, src_root, spark.range(0, 30).select("id", (F.col("id") % 3).alias("b"))
    )
    txlog.append(
        spark, src_root, spark.range(30, 45).select("id", (F.col("id") % 3).alias("b"))
    )
    txlog.create_table(
        spark, dst_root, spark.range(0, 0).select("id", (F.col("id") % 3).alias("b"))
    )
    txlog_source.register(spark)

    def run() -> None:
        q = (
            spark.readStream.format("txlog")
            .option("path", src_root)
            .load()
            .writeStream.format("txlog")
            .option("path", dst_root)
            .option("app_id", "relay")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    assert txlog.read_table(spark, dst_root).count() == 45
    v1 = txlog.current_version(dst_root)
    run()  # caught up: no new offsets, no new commits
    assert txlog.read_table(spark, dst_root).count() == 45
    assert txlog.current_version(dst_root) == v1
    # no orphan files from any duplicate delivery
    assert txlog.vacuum(dst_root, dry_run=True) == []


def test_batch_change_feed_read(spark, table, tmp_path):
    """BATCH change-feed through the format name (the readChangeFeed +
    startingVersion shape): spark.read.format('txlog') with
    change_feed=true + from_version/to_version returns exactly the
    commits in (from, to] — matching the library's read_changes on an
    append + dv-delete history — and the plain-SQL incremental loop
    (persist max(_commit_version), pass it back) reads each commit
    exactly once."""
    txlog.append(
        spark,
        table,
        spark.range(100, 110).select(
            "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("val")
        ),
    )
    txlog.delete_where(spark, table, "id IN (5, 105)", mode="dv")

    def feed(frm, to=None):
        r = (
            spark.read.format("txlog")
            .option("path", table)
            .option("change_feed", "true")
            .option("from_version", str(frm))
        )
        if to is not None:
            r = r.option("to_version", str(to))
        return r.load()

    got = feed(-1)
    exp = txlog.read_changes(spark, table, -1)
    assert got.count() == exp.count() == 52  # 40 + 10 inserts + 2 dels
    assert (
        got.groupBy("_change_type", "_commit_version").count().orderBy(
            "_commit_version", "_change_type"
        ).collect()
        == exp.groupBy("_change_type", "_commit_version").count().orderBy(
            "_commit_version", "_change_type"
        ).collect()
    )
    # range bounds: (0, 1] = just the append; (1, 2] = just the deletes
    assert feed(0, 1).count() == 10
    dels = feed(1, 2)
    assert dels.count() == 2
    assert {r["id"] for r in dels.collect()} == {5, 105}
    assert {r["_change_type"] for r in dels.collect()} == {"delete"}
    # the incremental consumer loop: each commit exactly once
    hw = -1
    seen = 0
    while True:
        batch = feed(hw)
        n = batch.count()
        if n == 0:
            break
        seen += n
        hw = batch.agg(F.max("_commit_version")).first()[0]
    assert seen == 52 and hw == 2
    # guards: inverted/out-of-range bounds and rewrite commits stay loud
    with pytest.raises(Exception, match="outside"):
        feed(3, 1).count()
    with pytest.raises(Exception, match="outside"):
        feed(-5).count()
    with pytest.raises(Exception, match="outside"):
        feed(0, 99).count()
    txlog.optimize(spark, table)  # nets to zero in the feed
    assert feed(2).count() == 0
    txlog.delete_where(spark, table, "id < 2", mode="cow")
    with pytest.raises(Exception, match="rewrite|ChangeFeedReader"):
        feed(2).count()
    # ...but a range that STOPS before the rewrite still reads fine
    assert feed(0, 2).count() == 12


def test_change_feed_overwrite_delivers_replace(spark, table, tmp_path):
    """An OVERWRITE commit flows through the change feed as the full
    delete+insert pair set (Delta's CDF-on-INSERT-OVERWRITE
    semantics): every pre-overwrite live row deletes, every new row
    inserts, one commit version - no carried rows exist, so per-file
    planning is exact. Works identically through the streaming source
    and the batch change-feed read; the append feed still refuses."""
    txlog.delete_where(spark, table, "id IN (1, 2)", mode="dv")  # v1
    txlog_source.register(spark)
    (
        spark.range(1000, 1005)
        .select("id", (F.col("id") % 4).alias("p"), F.lit(0).alias("val"))
        .write.format("txlog")
        .option("path", table)
        .mode("overwrite")  # v2
        .save()
    )
    got = (
        spark.read.format("txlog")
        .option("path", table)
        .option("change_feed", "true")
        .option("from_version", "1")
        .load()
    )
    dels = got.where("_change_type = 'delete'")
    ins = got.where("_change_type = 'insert'")
    assert dels.count() == 38  # 40 created - 2 already dv-dead
    assert dels.where("id IN (1, 2)").count() == 0  # dead rows don't re-delete
    assert ins.count() == 5
    assert {r["id"] for r in ins.collect()} == set(range(1000, 1005))
    assert got.select("_commit_version").distinct().first()[0] == 2
    # streaming form: same rows via readStream + change_feed
    sgot = _drain(
        spark,
        table,
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
        "ow",
        change_feed="true",
        starting_version="1",
    )
    assert sgot.count() == 43
    assert sgot.where("_change_type = 'delete'").count() == 38
    # the append feed still refuses an overwrite (non-append change)
    with pytest.raises(Exception, match="non-append|APPEND feed"):
        _drain(
            spark,
            table,
            str(tmp_path / "ck2"),
            str(tmp_path / "out2"),
            "ow2",
            starting_version="1",
        )


def test_change_feed_partition_filter(spark, table, tmp_path):
    """partition_filter on the change feed (read_changes' partitions=
    contract through the format name): a per-partition consumer pays
    ONLY its partition's changes — planned file lists are path-pruned
    before the feed-mode guards, so deletes confined to OTHER
    partitions neither deliver nor raise, batch and streaming alike."""
    txlog.append(  # v1: rows in all partitions
        spark,
        table,
        spark.range(100, 120).select(
            "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("val")
        ),
    )
    # v2: dv delete confined to partition p=1 (ids 1 mod 4)
    txlog.delete_where(spark, table, "id IN (5, 13, 105)", mode="dv")

    def feed(pf, **extra):
        r = (
            spark.read.format("txlog")
            .option("path", table)
            .option("change_feed", "true")
            .option("from_version", "-1")
            .option("partition_filter", pf)
        )
        for k, v in extra.items():
            r = r.option(k, v)
        return r.load()

    got = feed('{"p": [1]}')
    assert got.where("p != 1").count() == 0
    # 10 created + 5 appended inserts in p=1, 3 dv deletes (all p=1)
    assert got.where("_change_type = 'insert'").count() == 15
    dels = got.where("_change_type = 'delete'")
    assert {r["id"] for r in dels.collect()} == {5, 13, 105}
    # a consumer of p=2 sees NO deletes at all — and doesn't raise
    got2 = feed('{"p": [2]}')
    assert got2.where("_change_type = 'delete'").count() == 0
    assert got2.count() == 15
    # the APPEND feed scoped away from the deletes doesn't raise either
    sgot = _drain(
        spark,
        table,
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
        "pf1",
        partition_filter='{"p": [2]}',
    )
    assert sgot.count() == 15
    assert {r["p"] for r in sgot.select("p").distinct().collect()} == {2}
    # ...but the UNfiltered append feed still refuses the delete
    with pytest.raises(Exception, match="non-append|APPEND feed"):
        _drain(
            spark, table, str(tmp_path / "ck2"), str(tmp_path / "out2"), "pf2"
        )
