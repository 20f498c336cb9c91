"""The ``spark.read.format("txlog")`` Python DataSource (round-12
SQL/catalog surface): a plain-SQL session reaches a txlog table by
format name, and the source honors the full protocol — snapshot
schema binding, column mapping, deletion vectors, hive partition
values, time travel. Parity oracle: the JVM-path txlog.read_table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_rpc_spark.sources import txlog, txlog_source


@pytest.fixture()
def table(spark, tmp_path):
    """A table exercising every protocol feature at once: hive
    partitions, a rename, a dv delete, and a schema evolution."""
    root = str(tmp_path / "tx")
    df = spark.range(0, 200).select(
        "id", (F.col("id") % 4).alias("p"), (F.col("id") * 3).alias("val")
    )
    txlog.create_table(spark, root, df, partition_by=("p",))
    txlog.rename_column(spark, root, "val", "score")
    txlog.delete_where(spark, root, "id < 20", mode="dv")
    txlog.append(
        spark,
        root,
        spark.range(200, 250).select(
            "id",
            (F.col("id") % 4).alias("p"),
            (F.col("id") * 3).alias("score"),
            F.lit("x").alias("tag"),
        ),
        merge_schema=True,
    )
    txlog_source.register(spark)
    return root


def test_sql_read_matches_library_read(spark, table):
    got = spark.read.format("txlog").option("path", table).load()
    got.createOrReplaceTempView("tx_src")
    r = spark.sql(
        "SELECT count(*) AS n, sum(score) AS s, count(tag) AS t FROM tx_src"
    ).first()
    exp = (
        txlog.read_table(spark, table)
        .agg(F.count("*"), F.sum("score"), F.count("tag"))
        .first()
    )
    assert (r["n"], r["s"], r["t"]) == (exp[0], exp[1], exp[2])


def test_partition_column_is_typed_from_path(spark, table):
    got = spark.read.format("txlog").option("path", table).load()
    assert dict(got.dtypes)["p"] == "bigint"
    by_p = {
        r["p"]: r["n"]
        for r in got.groupBy("p").agg(F.count("*").alias("n")).collect()
    }
    exp = {
        r["p"]: r["n"]
        for r in txlog.read_table(spark, table)
        .groupBy("p")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_p == exp


def test_time_travel_option(spark, table):
    old = (
        spark.read.format("txlog")
        .option("path", table)
        .option("version", "0")
        .load()
    )
    assert old.columns == ["id", "p", "val"]  # pre-rename, pre-evolution
    assert old.count() == 200  # pre-dv-delete


def test_dv_rows_are_skipped(spark, table):
    got = spark.read.format("txlog").option("path", table).load()
    assert got.where("id < 20").count() == 0
    assert got.count() == 230


def test_partition_filter_option_prunes_files(spark, table):
    """.option('partition_filter', ...) is the SQL twin of
    read_table(partitions=...): file elimination at PLANNING time,
    safe under plan caching because it is part of the DataFrame's
    identity. The files-opened count is asserted directly on the
    reader's partitions() — the planning unit IS one file."""
    from map_reduce_rpc_spark.sources.txlog_source import TxLogDataSource

    ds = TxLogDataSource({"path": table, "partition_filter": '{"p": [1]}'})
    all_ds = TxLogDataSource({"path": table})
    n_all = len(all_ds.reader(None).partitions())
    n_pruned = len(ds.reader(None).partitions())
    assert 0 < n_pruned < n_all
    got = (
        spark.read.format("txlog")
        .option("path", table)
        .option("partition_filter", '{"p": [1]}')
        .load()
    )
    exp = txlog.read_table(spark, table, partitions={"p": 1})
    assert got.count() == exp.count()
    assert {r["p"] for r in got.select("p").distinct().collect()} == {1}
    # reuse of the SAME DataFrame across filtered + unfiltered
    # queries stays consistent (the declared pruned table)
    n = got.count()
    assert got.where("id >= 0").count() == n
    assert got.count() == n


def test_evolution_nulls(spark, table):
    got = spark.read.format("txlog").option("path", table).load()
    assert got.where("tag IS NOT NULL").count() == 50
    assert got.where("id < 200 AND tag IS NOT NULL").count() == 0


# ---------------------------------------------------------------------------
# the write path: df.write.format("txlog").mode("append")
# ---------------------------------------------------------------------------


@pytest.fixture()
def plain_table(spark, tmp_path):
    root = str(tmp_path / "wtx")
    txlog.create_table(
        spark,
        root,
        spark.range(0, 100).select("id", (F.col("id") % 10).alias("bucket")),
    )
    txlog_source.register(spark)
    return root


def test_sql_write_appends_through_the_protocol(spark, plain_table):
    (
        spark.range(100, 150)
        .select("id", F.lit(99).alias("bucket"))
        .write.format("txlog")
        .option("path", plain_table)
        .mode("append")
        .save()
    )
    got = txlog.read_table(spark, plain_table)
    assert got.count() == 150
    assert got.where("bucket = 99").count() == 50
    assert txlog.current_version(plain_table) == 1
    assert txlog._read_manifest(plain_table, 1)["writer"] == "datasource"
    assert txlog.row_count(plain_table) == 150  # stats recorded


def test_sql_write_respects_column_mapping(spark, plain_table):
    txlog.rename_column(spark, plain_table, "bucket", "grp")
    (
        spark.range(150, 160)
        .select("id", F.lit(7).alias("grp"))
        .write.format("txlog")
        .option("path", plain_table)
        .mode("append")
        .save()
    )
    got = txlog.read_table(spark, plain_table)
    assert got.count() == 110
    # 10 new rows + the 10 original bucket==7 rows, under the NEW name
    assert got.where("grp = 7").count() == 20


def test_sql_write_guards(spark, plain_table, tmp_path):
    # incompatible frame: loud, nothing committed
    with pytest.raises(Exception, match="schema mismatch|mismatch"):
        (
            spark.range(5)
            .select("id", F.lit("x").alias("other"))
            .write.format("txlog")
            .option("path", plain_table)
            .mode("append")
            .save()
        )
    assert txlog.current_version(plain_table) == 0
    # a write missing the table's partition columns: loud
    proot = str(tmp_path / "ptx")
    txlog.create_table(
        spark,
        proot,
        spark.range(10).select("id", (F.col("id") % 2).alias("p")),
        partition_by=("p",),
    )
    with pytest.raises(Exception, match="partition columns"):
        (
            spark.range(5)
            .select("id")
            .write.format("txlog")
            .option("path", proot)
            .mode("append")
            .save()
        )


def test_sql_write_partitioned_hive_layout(spark, tmp_path):
    """The round-12 'unpartitioned only' contract is retired: the
    DataSource writer splits each task's Arrow batches by partition
    tuple into hive directories, and the files it stages are then
    prunable by BOTH read paths — read_table(partitions=...) and the
    pushed-filter SQL scan."""
    root = str(tmp_path / "ptx")
    txlog.create_table(
        spark,
        root,
        spark.range(0, 0).select(
            "id", (F.col("id") % 3).alias("p"), F.lit("x").alias("tag")
        ),
        partition_by=("p",),
    )
    txlog_source.register(spark)
    (
        spark.range(0, 90)
        .select("id", (F.col("id") % 3).alias("p"), F.lit("a").alias("tag"))
        .write.format("txlog")
        .option("path", root)
        .mode("append")
        .save()
    )
    got = txlog.read_table(spark, root)
    assert got.count() == 90
    # the hive layout is real: partition dirs on disk, values typed
    rels = txlog.snapshot_info(root, txlog.current_version(root))["files"]
    assert all("/p=" in r for r in rels)
    assert {r["p"] for r in got.select("p").distinct().collect()} == {0, 1, 2}
    # library-path pruning sees the DataSource-written layout
    pruned = txlog.read_table(spark, root, partitions={"p": 1})
    assert pruned.count() == 30
    assert {r["p"] for r in pruned.select("p").distinct().collect()} == {1}
    # and the SQL read returns the same table
    sql = spark.read.format("txlog").option("path", root).load()
    assert sql.where("p = 1").count() == 30
    assert sql.groupBy().sum("id").first()[0] == sum(range(90))


def test_sql_write_overwrite_atomic_replace(spark, plain_table):
    """mode('overwrite') = ONE full-manifest 'overwrite' commit: the
    new file list replaces the old atomically, prior versions stay
    time-travelable, and a dv on the old files dies with them."""
    txlog.delete_where(spark, plain_table, "id < 5", mode="dv")
    assert txlog.read_table(spark, plain_table).count() == 95
    (
        spark.range(1000, 1010)
        .select("id", F.lit(1).alias("bucket"))
        .write.format("txlog")
        .option("path", plain_table)
        .mode("overwrite")
        .save()
    )
    v = txlog.current_version(plain_table)
    m = txlog._read_manifest(plain_table, v)
    assert m["op"] == "overwrite" and m["writer"] == "datasource"
    got = txlog.read_table(spark, plain_table)
    assert got.count() == 10
    assert got.agg(F.min("id"), F.max("id")).first() == (1000, 1009)
    # no stale dv carried onto the new snapshot
    assert not txlog.snapshot_info(plain_table, v).get("dv")
    # history intact: the pre-overwrite dv snapshot still reads
    assert txlog.read_table(spark, plain_table, version=v - 1).count() == 95
    # schema still enforced on the overwrite path
    with pytest.raises(Exception, match="mismatch"):
        (
            spark.range(5)
            .select("id", F.lit("x").alias("other"))
            .write.format("txlog")
            .option("path", plain_table)
            .mode("overwrite")
            .save()
        )
    assert txlog.read_table(spark, plain_table).count() == 10


def test_sql_write_enforces_constraints(spark, plain_table):
    txlog.add_constraint(spark, plain_table, "nonneg", "bucket >= 0")
    with pytest.raises(Exception, match="constraint|CHECK"):
        (
            spark.range(5)
            .select("id", F.lit(-1).alias("bucket"))
            .write.format("txlog")
            .option("path", plain_table)
            .mode("append")
            .save()
        )
    # add_constraint committed v1; the blocked write added nothing
    assert txlog.current_version(plain_table) == 1
    assert txlog.read_table(spark, plain_table).count() == 100


def test_timestamp_as_of_option(spark, table):
    """.option('timestamp', ...) — TIMESTAMP AS OF through the format
    name, unix seconds or ISO-8601, resolved by the library's
    max-matching walk; mutually exclusive with 'version'."""
    import datetime

    # between v0 and v1's commit times -> resolves to v0 (an EXACT
    # boundary timestamp is fragile: option strings round-trip through
    # Spark and can lose the last float digit)
    ts0 = txlog._manifest_meta(table, 0)[0]
    ts1 = txlog._manifest_meta(table, 1)[0]
    assert ts1 > ts0
    mid = (ts0 + ts1) / 2
    old = (
        spark.read.format("txlog")
        .option("path", table)
        .option("timestamp", str(mid))
        .load()
    )
    assert old.columns == ["id", "p", "val"] and old.count() == 200
    iso = datetime.datetime.fromtimestamp(mid).isoformat()
    old2 = (
        spark.read.format("txlog")
        .option("path", table)
        .option("timestamp", iso)
        .load()
    )
    assert old2.count() == 200
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("txlog")
            .option("path", table)
            .option("timestamp", str(ts0))
            .option("version", "1")
            .load()
            .count()
        )
    with pytest.raises(Exception, match="predates"):
        (
            spark.read.format("txlog")
            .option("path", table)
            .option("timestamp", str(ts0 - 9999))
            .load()
            .count()
        )


def test_history_option(spark, table):
    """.option('history', 'true') — DESCRIBE HISTORY through plain
    SQL: one row per version, matching the library's history() on the
    shared columns."""
    got = (
        spark.read.format("txlog")
        .option("path", table)
        .option("history", "true")
        .load()
    )
    got.createOrReplaceTempView("tx_hist")
    rows = spark.sql(
        "SELECT version, op, n_files FROM tx_hist ORDER BY version"
    ).collect()
    exp = (
        txlog.history(spark, table)
        .select("version", "op", "n_files")
        .orderBy("version")
        .collect()
    )
    assert rows == exp
    assert [r["op"] for r in rows][:2] == ["create", "rename_column"]


def test_overwrite_races_append(spark, plain_table):
    """An overwrite and an append race the same parent: the LogStore
    serializes them in SOME order, both commit, and the final state is
    order-consistent — overwrite-last leaves exactly the overwrite
    payload; append-last leaves overwrite payload + appended rows (the
    append re-validates and lands on TOP of the replace, the
    WriteSerializable blind-append semantics). Each thread pins the
    JVM-side ACTIVE session first: Spark 4.1's DataFrameWriter
    resolves Python data sources through the thread-local active
    session, so a write (unlike a read) from a fresh py4j thread
    otherwise fails with ClassNotFoundException txlog.DefaultSource —
    found and documented here; reads are unaffected."""
    from pyspark import InheritableThread

    errs: list[Exception] = []

    def _pin_session() -> None:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )

    def do_overwrite() -> None:
        try:
            _pin_session()
            (
                spark.range(500, 520)
                .select("id", F.lit(5).alias("bucket"))
                .write.format("txlog")
                .option("path", plain_table)
                .mode("overwrite")
                .save()
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def do_append() -> None:
        try:
            _pin_session()
            (
                spark.range(900, 910)
                .select("id", F.lit(9).alias("bucket"))
                .write.format("txlog")
                .option("path", plain_table)
                .mode("append")
                .save()
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = InheritableThread(target=do_overwrite)
    t2 = InheritableThread(target=do_append)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert txlog.current_version(plain_table) == 2
    ops = [
        txlog._read_manifest(plain_table, v)["op"] for v in (1, 2)
    ]
    assert sorted(ops) == ["append", "overwrite"]
    got = txlog.read_table(spark, plain_table)
    n = got.count()
    if ops[-1] == "overwrite":  # replace landed last: table == payload
        assert n == 20
        assert got.where("bucket = 5").count() == 20
    else:  # append landed on top of the replace
        assert n == 30
        assert got.where("bucket = 5").count() == 20
        assert got.where("bucket = 9").count() == 10
    # no orphans either way
    assert all(".stage" not in r for r in txlog.vacuum(plain_table, dry_run=True))


def test_stream_write_exactly_once(spark, tmp_path):
    """writeStream.format("txlog"): a micro-batch commits through the
    (app_id, batchId) idempotence map, so replaying the SAME logical
    stream from a fresh checkpoint (at-least-once redelivery) commits
    nothing and deletes its duplicate files — exactly-once through
    the format name."""
    root = str(tmp_path / "tx")
    src = str(tmp_path / "src")
    txlog.create_table(
        spark, root, spark.range(0, 10).select("id", F.lit(0).alias("b"))
    )
    spark.range(100, 200).select("id", F.lit(1).alias("b")).write.parquet(src)
    txlog_source.register(spark)

    def run(ckpt: str) -> None:
        q = (
            spark.readStream.schema("id long, b int")
            .parquet(src)
            .writeStream.format("txlog")
            .option("path", root)
            .option("app_id", "stream-a")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    assert txlog.read_table(spark, root).count() == 110
    assert txlog.current_version(root) == 1
    run("ck2")  # fresh checkpoint, same app_id: batch 0 redelivered
    assert txlog.read_table(spark, root).count() == 110
    assert txlog.current_version(root) == 1
    m = txlog._read_manifest(root, 1)
    assert m["txn"] == {"stream-a": 0} and m["writer"] == "datasource"
    # no orphan duplicate files left behind
    assert txlog.vacuum(root, dry_run=True) == []


def test_partitioned_writer_caps_open_files(spark, tmp_path, monkeypatch):
    """The partitioned task writer holds at most _MAX_OPEN_WRITERS
    parquet writers: past the cap the oldest closes and later rows for
    its partition ROLL into a new file — memory stays bounded by the
    cap, never by partition cardinality, and every row still lands
    exactly once (the 100 TB high-cardinality-partition shape)."""
    import pyarrow as pa

    from map_reduce_rpc_spark.sources import txlog_source as ts

    monkeypatch.setattr(ts, "_MAX_OPEN_WRITERS", 4)
    root = str(tmp_path / "tx")
    df0 = spark.range(0, 0).select(
        "id", (F.col("id") % 10).alias("p")
    )
    txlog.create_table(spark, root, df0, partition_by=("p",))

    def batches():
        # 3 Arrow batches, each spanning all 10 partitions, so rolled
        # partitions get re-opened in later batches
        for b in range(3):
            ids = list(range(b * 100, b * 100 + 100))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array([i % 10 for i in ids], type=pa.int64()),
                ],
                names=["id", "p"],
            )

    msg = ts._write_task_batches(
        root, {"map": {}, "retired": []}, ("p",), batches()
    )
    assert len(msg.rels) > 10  # rolling produced extra per-partition files
    schema_json = df0.schema.json()
    ts._commit_rels(root, schema_json, {"map": {}, "retired": []}, msg.rels)
    got = txlog.read_table(spark, root)
    assert got.count() == 300
    assert got.select("id").distinct().count() == 300  # exactly once
    by_p = {
        r["p"]: r["n"]
        for r in got.groupBy("p").agg(F.count("*").alias("n")).collect()
    }
    assert by_p == {p: 30 for p in range(10)}
    # pruning still works on the rolled layout
    assert txlog.read_table(spark, root, partitions={"p": 3}).count() == 30


def test_library_feed_and_vacuum_across_overwrite(spark, plain_table):
    """The library surfaces compose with the DataSource's overwrite
    commit: read_changes nets an overwrite to delete(all old live) +
    insert(all new) WITH multiset cancellation of identical rows (one
    row is written back verbatim here and must vanish from the feed —
    the cancellation the per-file CDF readers document as their
    difference), history() records the op, and vacuum(retain_versions=1)
    reclaims every buried file while the current snapshot keeps
    reading."""
    import os

    txlog.delete_where(spark, plain_table, "id >= 90", mode="dv")  # v1
    # v2: overwrite = 5 fresh rows + ONE row identical to a live old row
    (
        spark.range(500, 505)
        .select("id", F.lit(7).alias("bucket"))
        .unionByName(
            spark.range(3, 4).select("id", (F.col("id") % 10).alias("bucket"))
        )
        .write.format("txlog")
        .option("path", plain_table)
        .mode("overwrite")
        .save()
    )
    feed = txlog.read_changes(spark, plain_table, 1)
    dels = feed.where("_change_type = 'delete'")
    ins = feed.where("_change_type = 'insert'")
    # 90 live old rows, minus the carried-identical (3,3) pair that
    # cancels; 6 new rows minus the same pair
    assert dels.count() == 89 and ins.count() == 5
    assert dels.where("id = 3").count() == 0
    assert ins.where("id = 3").count() == 0
    hist = txlog.history(spark, plain_table).orderBy("version").collect()
    assert [r["op"] for r in hist] == ["create", "delete", "overwrite"]
    # vacuum reclaims the buried generation (age-ignored: the old
    # files ARE manifest-referenced, just out of retention)
    removed = txlog.vacuum(plain_table, retain_versions=1)
    assert len(removed) > 0
    got = txlog.read_table(spark, plain_table)
    assert got.count() == 6
    assert got.where("bucket = 7").count() == 5
    for rel in removed:
        assert not os.path.exists(os.path.join(plain_table, rel))
    # time travel to the buried generation now fails mid-scan (the
    # documented Delta VACUUM hazard), never silently half-reads
    with pytest.raises(Exception):  # noqa: B017 — files gone
        txlog.read_table(spark, plain_table, version=0).count()


def test_stream_writer_refuses_truncate(spark, plain_table):
    """outputMode('complete') asks the sink to TRUNCATE each
    micro-batch; the txlog streaming sink is append-only, and before
    round 14 it silently APPENDED under the truncate contract —
    accumulating every batch's rows (round-13 ADVICE). Now it refuses
    at sink construction."""
    from pyspark.sql.types import LongType, StructField, StructType

    from map_reduce_rpc_spark.sources.txlog_source import TxLogDataSource

    ds = TxLogDataSource(
        {"path": plain_table, "app_id": "truncate_probe"}
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("bucket", LongType()),
        ]
    )
    # append mode still constructs
    assert ds.streamWriter(schema, overwrite=False) is not None
    with pytest.raises(ValueError, match="append-only"):
        ds.streamWriter(schema, overwrite=True)


def test_partitioned_write_rejects_unencodable_values(spark, tmp_path):
    """_hive_dir_value must NOT fall back to str(v) for values
    _hive_path_value refuses (timestamps, out-of-plain-range floats):
    a Python-repr path form ('1e+20') is exactly what the read/prune
    side rejects as un-derivable, stranding the partition behind the
    loud-error contract (round-13 ADVICE). The write itself fails."""
    root = str(tmp_path / "badpart")
    txlog.create_table(
        spark,
        root,
        spark.range(0, 4).selectExpr("id", "CAST(id AS DOUBLE) AS p"),
        partition_by=("p",),
    )
    txlog_source.register(spark)
    bad = spark.range(0, 2).selectExpr("id", "CAST(1e20 AS DOUBLE) AS p")
    with pytest.raises(Exception, match="hive-path|no hive"):
        (
            bad.write.format("txlog")
            .option("path", root)
            .mode("append")
            .save()
        )
    # the failed write staged nothing visible
    assert txlog.read_table(spark, root).count() == 4


def test_register_leaves_filter_pushdown_conf(spark, table):
    """The txlog reader implements no ``pushFilters``: WHERE clauses
    are evaluated by Spark after the scan, and ``partition_filter`` is
    the pruning option. So registering the format leaves the
    session-wide ``spark.sql.python.filterPushdown.enabled`` as the
    caller set it, and a filtered read plans and answers with it off."""
    key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        txlog_source.register(spark)
        assert spark.conf.get(key) == "false"
        where = "p = 1 AND id >= 100"
        got = spark.read.format("txlog").option("path", table).load()
        exp = txlog.read_table(spark, table).where(where).count()
        assert got.where(where).count() == exp > 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _java_pids() -> set[str]:
    import subprocess

    out = subprocess.run(
        ["ps", "-eo", "pid,comm"], capture_output=True, text=True, check=True
    ).stdout
    return {ln.split()[0] for ln in out.splitlines()[1:] if ln.split()[1:] == ["java"]}


def test_unconstrained_sql_append_starts_no_jvm(spark, plain_table):
    """Spark runs the DataSource commit in a separate Python worker
    that holds no session of this application, so a session built
    there is a second local Spark JVM. A commit into an unconstrained
    table reads manifests and footers only: it starts no java
    process. A unique worker env entry, set before registering, gives
    this write its own Python workers, so a worker an earlier commit
    warmed (one that validated a CHECK holds a JVM) cannot hide a new
    one."""
    import uuid

    env = spark.sparkContext.environment
    env["TXLOG_TEST_WORKER_POOL"] = uuid.uuid4().hex
    try:
        txlog_source.register(spark)
        before = _java_pids()
        (
            spark.range(100, 110)
            .select("id", F.lit(1).alias("bucket"))
            .write.format("txlog")
            .option("path", plain_table)
            .mode("append")
            .save()
        )
        # an idle worker may exit meanwhile; none may start a JVM
        assert not _java_pids() - before
    finally:
        del env["TXLOG_TEST_WORKER_POOL"]
        txlog_source.register(spark)
    assert txlog.read_table(spark, plain_table).count() == 110


def test_schemaless_table_is_rejected_by_both_readers(spark, plain_table):
    """FORMAT.md requires ``schema`` on every full manifest from v0 on.
    A table without one is outside the format: the library reader and
    the DataSource raise the same error, and neither merges parquet
    footers to guess a schema (no Spark job runs)."""
    import json

    path = txlog._manifest_path(plain_table, 0)
    with open(path) as fh:
        m = json.load(fh)
    del m["schema"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    sc = spark.sparkContext
    sc.setJobGroup("txlog_schemaless", "reads that must run no job")
    try:
        with pytest.raises(ValueError, match="predates schema recording"):
            txlog.read_table(spark, plain_table)
        with pytest.raises(Exception, match="predates schema recording"):
            spark.read.format("txlog").option("path", plain_table).load()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("txlog_schemaless") == []


def test_change_feed_reader_pins_resolved_snapshot(spark, plain_table):
    """A batch change-feed read WITHOUT to_version must bind the
    version _resolve() pinned at schema() time — not a fresh
    current_version() at reader() time: a commit landing between
    analysis and planning would otherwise bind the feed (and its
    schema-at-to_version) past the schema Spark planned with
    (round-13 ADVICE, the same race class _resolve() pinning closed
    for plain reads)."""
    from map_reduce_rpc_spark.sources.txlog_source import TxLogDataSource

    ds = TxLogDataSource({"path": plain_table, "change_feed": "true"})
    ds.schema()  # analysis: pins the snapshot
    v_at_bind = txlog.current_version(plain_table)
    # a commit lands between analysis and planning
    txlog.append(
        spark,
        plain_table,
        spark.range(100, 110).select(
            "id", (F.col("id") % 10).alias("bucket")
        ),
    )
    rd = ds.reader(None)
    assert rd.to_version == v_at_bind  # pinned, not the new tip
    # an EXPLICIT to_version still binds exactly where asked
    ds2 = TxLogDataSource(
        {
            "path": plain_table,
            "change_feed": "true",
            "to_version": str(v_at_bind),
        }
    )
    ds2.schema()
    assert ds2.reader(None).to_version == v_at_bind


def test_sql_text_view_matches_library_read(spark, table):
    """The pure-SQL-TEXT read surface (round 14, the read-side
    complement of sources/sql_dml.py): ``CREATE TEMPORARY VIEW ...
    USING txlog OPTIONS (path ...)`` — Spark's own DSv2 SQL syntax
    instantiates the Python DataSource with the OPTIONS map, so a
    session that only ever calls spark.sql() reads a txlog table with
    the full protocol honored (dv anti-join, column mapping, evolved
    schema, hive partition typing). No code path of ours runs between
    the SQL text and the DataSource — this pins that the OPTIONS
    plumbing itself round-trips."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW tx_sqltext "
        f"USING txlog OPTIONS (path '{table}')"
    )
    r = spark.sql(
        "SELECT count(*) AS n, sum(score) AS s, count(tag) AS t "
        "FROM tx_sqltext"
    ).first()
    exp = (
        txlog.read_table(spark, table)
        .agg(F.count("*"), F.sum("score"), F.count("tag"))
        .first()
    )
    assert (r["n"], r["s"], r["t"]) == (exp[0], exp[1], exp[2])
    spark.catalog.dropTempView("tx_sqltext")


def test_sql_text_view_time_travel_and_change_feed(spark, table):
    """OPTIONS pass through the SQL-text view verbatim, so time travel
    and the batch change feed work from pure SQL too. version '0' must
    show the era-correct shape: pre-rename column name, pre-dv rows,
    pre-evolution schema (no tag)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW tx_v0 "
        f"USING txlog OPTIONS (path '{table}', version '0')"
    )
    v0 = spark.table("tx_v0")
    assert "val" in v0.columns and "tag" not in v0.columns
    assert v0.count() == 200  # dv delete (v2) not yet applied at v0
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW tx_feed "
        f"USING txlog OPTIONS (path '{table}', change_feed 'true', "
        "from_version '1', to_version '2')"  # exclusive start: v2 only
    )
    feed = spark.table("tx_feed")
    # v2 is the dv delete of id < 20: exactly those rows, as deletes
    assert feed.where("_change_type = 'delete'").count() == 20
    assert feed.where("_change_type <> 'delete'").count() == 0
    assert feed.agg(F.max("id")).first()[0] == 19
    spark.catalog.dropTempView("tx_v0")
    spark.catalog.dropTempView("tx_feed")


def test_sql_text_insert_into_and_overwrite(spark, plain_table):
    """INSERT INTO / INSERT OVERWRITE through the SQL-text view are
    Spark's own DSv2 insert routing into this DataSource's writer —
    with the view read path and sources/sql_dml.py this completes the
    all-verbs-as-SQL-strings surface (SELECT, INSERT, INSERT
    OVERWRITE natively; DELETE/UPDATE/MERGE via the front-end).
    INSERT INTO must land as an ordinary append commit, INSERT
    OVERWRITE as the ONE atomic full-manifest overwrite commit; both
    run the writer's usual schema enforcement."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW tvw "
        f"USING txlog OPTIONS (path '{plain_table}')"
    )
    spark.sql(
        "INSERT INTO tvw SELECT id, CAST(id % 7 AS BIGINT) AS bucket "
        "FROM range(100, 130)"
    )
    assert txlog.current_version(plain_table) == 1
    assert txlog._read_manifest(plain_table, 1)["op"] == "append"
    got = txlog.read_table(spark, plain_table)
    assert got.count() == 130
    assert got.where("id >= 100").count() == 30
    spark.sql(
        "INSERT OVERWRITE tvw SELECT id, CAST(0 AS BIGINT) AS bucket "
        "FROM range(5)"
    )
    assert txlog.current_version(plain_table) == 2
    assert txlog._read_manifest(plain_table, 2)["op"] == "overwrite"
    assert txlog.read_table(spark, plain_table).count() == 5
    # v1 stays time-travelable under the overwrite
    assert txlog.read_table(spark, plain_table, version=1).count() == 130
    # schema enforcement runs on the SQL path too: a column Spark
    # cannot cast losslessly to the declared schema fails loudly
    with pytest.raises(Exception):
        spark.sql("INSERT INTO tvw SELECT 'oops' AS id, 'x' AS bucket")
    assert txlog.current_version(plain_table) == 2  # nothing committed
    spark.catalog.dropTempView("tvw")


def test_sql_text_insert_into_partitioned_table(spark, tmp_path):
    """INSERT INTO through the SQL-text view on a HIVE-PARTITIONED
    table routes into the partitioned task writer: new rows land in
    their partition directories (prunable by both read paths), not a
    flat layout."""
    root = str(tmp_path / "ptx")
    txlog.create_table(
        spark,
        root,
        spark.range(0, 40).select("id", (F.col("id") % 2).alias("p")),
        partition_by=("p",),
    )
    txlog_source.register(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW ptv "
        f"USING txlog OPTIONS (path '{root}')"
    )
    spark.sql(
        "INSERT INTO ptv SELECT id, CAST(id % 2 AS BIGINT) AS p "
        "FROM range(40, 60)"
    )
    assert txlog.current_version(root) == 1
    got = txlog.read_table(spark, root)
    assert got.count() == 60
    # the new files are under hive dirs, and partition reads prune
    assert txlog.read_table(spark, root, partitions={"p": 1}).count() == 30
    new_files = txlog._read_manifest(root, 1).get("add", [])
    assert new_files and all("p=" in f for f in new_files)
    spark.catalog.dropTempView("ptv")
