"""Round-12 txlog hardening contracts (the round-11 ADVICE findings):
vacuum's in-flight-writer age guard + dry-run listing, the reserved
'#' stats namespace, hive-path-exact partition pruning, zorder with an
all-NULL later dimension, and CDF schema binding across a RESTORE that
undid a type widening."""

from __future__ import annotations

import os
import time as _time

import pytest
from pyspark.sql import functions as F

from map_reduce_rpc_spark.sources import txlog


def _age(path: str) -> None:
    old = _time.time() - 2 * txlog._TMP_RETAIN_SECS
    os.utime(path, (old, old))


# ---------------------------------------------------------------------------
# vacuum: age guard + dry run
# ---------------------------------------------------------------------------


def test_vacuum_never_races_inflight_staged_files(spark, tmp_path):
    """The exact corruption from the round-11 ADVICE medium finding: a
    writer has staged files under final data/ names but not yet
    committed. Vacuum must NOT remove them — the writer's later commit
    would otherwise publish a version referencing deleted files."""
    root = str(tmp_path / "tx")
    txlog.create_table(
        spark, root, spark.range(0, 100).select("id")
    )
    # a concurrent writer mid-commit: staged, not yet linked
    staged = txlog._stage_files(
        spark, root, spark.range(100, 150).select("id")
    )
    removed = txlog.vacuum(root, retain_versions=1)
    assert removed == [], "vacuum raced an in-flight writer's staged files"
    # the writer's commit still succeeds and the table is exact
    ok = txlog._commit_version(
        root,
        1,
        "append",
        txlog.snapshot_info(root, 0),
        {},
        txlog._Commit(added=staged, add_stats=txlog._collect_stats(root, staged)),
    )
    assert ok
    assert txlog.read_table(spark, root).count() == 150


def test_vacuum_committed_files_removed_regardless_of_age(spark, tmp_path):
    """Files referenced by SOME manifest but outside retention are
    committed history, not in-flight work: removed immediately even
    when young (the pre-round-12 behavior every restore/clone test
    depends on)."""
    root = str(tmp_path / "tx")
    txlog.create_table(spark, root, spark.range(0, 100).select("id"))
    v0_files = set(txlog.snapshot_info(root, 0)["files"])
    txlog.optimize(spark, root, target_file_bytes=1 << 30)  # rewrites all
    removed = set(txlog.vacuum(root, retain_versions=1))
    assert v0_files <= removed, "young committed files must still vacuum"
    assert txlog.read_table(spark, root).count() == 100


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog.create_table(spark, root, spark.range(0, 100).select("id"))
    v0_files = set(txlog.snapshot_info(root, 0)["files"])
    txlog.optimize(spark, root, target_file_bytes=1 << 30)
    listed = set(txlog.vacuum(root, retain_versions=1, dry_run=True))
    assert v0_files <= listed
    for rel in v0_files:
        assert os.path.exists(os.path.join(root, rel)), "dry run deleted"
    # the real run removes exactly what the dry run listed
    assert set(txlog.vacuum(root, retain_versions=1)) == listed
    for rel in v0_files:
        assert not os.path.exists(os.path.join(root, rel))


def test_vacuum_age_guards_stage_dirs(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog.create_table(spark, root, spark.range(0, 10).select("id"))
    stage = os.path.join(root, txlog._DATA, ".stage-deadbeef0000")
    os.makedirs(stage)
    with open(os.path.join(stage, "part-x.parquet"), "w") as fh:
        fh.write("junk")
    assert txlog.vacuum(root) == []  # young: maybe a live writer
    assert os.path.isdir(stage)
    _age(stage)
    removed = txlog.vacuum(root)
    assert any(".stage-deadbeef0000" in r for r in removed)
    assert not os.path.exists(stage)


def test_vacuum_tocttou_recheck_covers_racing_commit(
    spark, tmp_path, monkeypatch
):
    """A commit landing BETWEEN vacuum's reference-set build and its
    file walk must not lose its files: the recheck extends the set."""
    root = str(tmp_path / "tx")
    txlog.create_table(spark, root, spark.range(0, 50).select("id"))
    staged = txlog._stage_files(spark, root, spark.range(50, 80).select("id"))
    for rel in staged:
        _age(os.path.join(root, rel))  # old enough to look like garbage
    real_cv = txlog.current_version

    calls = {"n": 0}

    def racing_cv(r):
        calls["n"] += 1
        if calls["n"] == 2:  # the TOCTTOU recheck: commit lands NOW
            ok = txlog._commit_version(
                r,
                1,
                "append",
                txlog.snapshot_info(r, 0),
                {},
                txlog._Commit(added=staged),
            )
            assert ok
        return real_cv(r)

    monkeypatch.setattr(txlog, "current_version", racing_cv)
    removed = txlog.vacuum(root, retain_versions=1)
    monkeypatch.undo()
    assert removed == [], "vacuum deleted a racing commit's files"
    assert txlog.read_table(spark, root).count() == 80


# ---------------------------------------------------------------------------
# reserved '#' stats namespace
# ---------------------------------------------------------------------------


def test_hash_prefixed_columns_rejected_at_write(spark, tmp_path):
    root = str(tmp_path / "tx")
    bad = spark.range(0, 5).select(F.col("id").alias("#rows"))
    with pytest.raises(ValueError, match="reserved"):
        txlog.create_table(spark, root, bad)
    txlog.create_table(spark, root, spark.range(0, 5).select("id"))
    with pytest.raises(ValueError, match="reserved"):
        txlog.append(
            spark,
            root,
            spark.range(5, 9).select("id", F.lit(1).alias("#rows")),
            merge_schema=True,
        )
    # row_count stays metadata-exact
    assert txlog.row_count(root) == 5


# ---------------------------------------------------------------------------
# hive-path-exact partition pruning
# ---------------------------------------------------------------------------


def test_partition_prune_bool_matches_spark_path_form(spark, tmp_path):
    """Python str(True) is 'True' but Spark writes flag=true in the
    path; the round-11 ADVICE finding was that the str() compare
    silently pruned EVERY matching file."""
    root = str(tmp_path / "tx")
    df = spark.range(0, 100).select(
        "id", (F.col("id") % 2 == 0).alias("flag")
    )
    txlog.create_table(spark, root, df, partition_by=("flag",))
    got = txlog.read_table(spark, root, partitions={"flag": True})
    assert got.count() == 50
    assert {r["flag"] for r in got.select("flag").distinct().collect()} == {
        True
    }
    assert (
        txlog.read_table(spark, root, partitions={"flag": False}).count()
        == 50
    )


def test_partition_prune_float_values(spark, tmp_path):
    """Floats in the plain-decimal range prune natively (Python repr ==
    Spark's Double.toString there — the round-12 ADVICE regression
    fix); scientific-notation-range floats, where the two encoders
    disagree ('1e+20' vs '1.0E20'), stay a loud error with the exact
    path string as the escape hatch."""
    root = str(tmp_path / "tx")
    df = spark.range(0, 10).select(
        "id", (F.col("id") / 4.0).alias("frac")
    )
    txlog.create_table(spark, root, df, partition_by=("frac",))
    got = txlog.read_table(spark, root, partitions={"frac": 0.25})
    assert got.count() == 1
    assert got.collect()[0]["id"] == 1
    # zero and whole-valued doubles too (Spark writes frac=0.0, 1.0 …)
    assert (
        txlog.read_table(spark, root, partitions={"frac": 0.0}).count() == 1
    )
    assert (
        txlog.read_table(spark, root, partitions={"frac": 1.0}).count() == 1
    )
    # the path-string escape hatch still works
    got = txlog.read_table(spark, root, partitions={"frac": "0.25"})
    assert got.count() == 1
    # outside the shared plain-decimal range: loud, never silent
    with pytest.raises(ValueError, match="hive path form"):
        txlog.read_table(spark, root, partitions={"frac": 1e20})
    with pytest.raises(ValueError, match="hive path form"):
        txlog.read_table(spark, root, partitions={"frac": float("nan")})


def test_partition_prune_date_values(spark, tmp_path):
    import datetime

    root = str(tmp_path / "tx")
    df = spark.range(0, 30).select(
        "id",
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("day"),
    )
    txlog.create_table(spark, root, df, partition_by=("day",))
    got = txlog.read_table(
        spark, root, partitions={"day": datetime.date(2024, 1, 2)}
    )
    assert got.count() == 10


# ---------------------------------------------------------------------------
# zorder degenerate dimensions
# ---------------------------------------------------------------------------


def test_zorder_all_null_later_column_falls_back(spark, tmp_path):
    """First column has values, second is entirely NULL: round-11
    ADVICE finding 4 crashed on float(None). Now the NULL dimension is
    dropped and the optimize succeeds as a 1-D cluster."""
    root = str(tmp_path / "tx")
    df = spark.range(0, 200).select(
        "id", F.lit(None).cast("long").alias("dead")
    )
    txlog.create_table(spark, root, df)
    v = txlog.optimize(spark, root, zorder_by=("id", "dead"))
    assert v == 1
    got = txlog.read_table(spark, root)
    assert got.count() == 200
    # all-NULL on EVERY dimension: plain compaction, no crash
    root2 = str(tmp_path / "tx2")
    txlog.create_table(
        spark,
        root2,
        spark.range(0, 50).select(
            F.lit(None).cast("long").alias("a"),
            F.lit(None).cast("long").alias("b"),
        ),
    )
    assert txlog.optimize(spark, root2, zorder_by=("a", "b")) == 1
    assert txlog.read_table(spark, root2).count() == 50


# ---------------------------------------------------------------------------
# CDF schema binding across restore-undone widening
# ---------------------------------------------------------------------------


def test_cdf_across_restore_that_undid_widening(spark, tmp_path):
    """v0 int table; v1 widens to long; v2 restores v0. The CDF over
    (0, 2] must read the REMOVED wide-era files under the wide schema
    they were written with (the round-11 ADVICE finding: forcing the
    restored narrow to_version schema onto them errored), then surface
    them cast to the narrow output schema."""
    root = str(tmp_path / "tx")
    txlog.create_table(
        spark,
        root,
        spark.range(0, 10).select(F.col("id").cast("int").alias("id")),
    )
    txlog.append(
        spark,
        root,
        spark.range(100, 110).select(F.col("id").cast("long").alias("id")),
        merge_schema=True,
    )
    assert dict(txlog.read_table(spark, root).dtypes)["id"] == "bigint"
    txlog.restore(spark, root, 0)
    assert dict(txlog.read_table(spark, root).dtypes)["id"] == "int"
    cdf = txlog.read_changes(spark, root, from_version=0)
    rows = {
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in cdf.collect()
    }
    # v1 inserted 100..109; v2 (the restore) deleted them again
    assert {(1, "insert", k) for k in range(100, 110)} <= rows
    assert {(2, "delete", k) for k in range(100, 110)} <= rows
    assert not [r for r in rows if r[1] == "delete" and r[0] == 1]
    assert dict(cdf.dtypes)["id"] == "int"  # bound to to_version schema


def test_vacuum_retain_hours_exact_boundary(spark, tmp_path, monkeypatch):
    """The time-based retention boundary is inclusive: a version
    committed EXACTLY at the horizon survives (ts >= cutoff), one an
    instant older falls to the version rule alone — pinned by driving
    vacuum's clock directly (round-11 verdict item 8)."""
    root = str(tmp_path / "tx")
    txlog.create_table(spark, root, spark.range(0, 50).select("id"))
    v0_files = set(txlog.snapshot_info(root, 0)["files"])
    txlog.optimize(spark, root, target_file_bytes=1 << 30)  # v1 rewrites
    ts0 = txlog._read_manifest(root, 0)["ts"]
    hours = 5.0
    real_time = txlog.time.time

    # clock such that cutoff == ts0 exactly: v0 is AT the horizon
    monkeypatch.setattr(
        txlog.time, "time", lambda: ts0 + hours * 3600
    )
    listed = txlog.vacuum(
        root, retain_versions=1, retain_hours=hours, dry_run=True
    )
    monkeypatch.setattr(txlog.time, "time", real_time)
    assert not (v0_files & set(listed)), (
        "a version exactly at the retain_hours horizon must survive"
    )
    # one second past the horizon: v0 leaves the hours window and the
    # version rule (retain 1 = v1 only) lets its files go
    monkeypatch.setattr(
        txlog.time, "time", lambda: ts0 + hours * 3600 + 1.0
    )
    listed = txlog.vacuum(
        root, retain_versions=1, retain_hours=hours, dry_run=True
    )
    monkeypatch.setattr(txlog.time, "time", real_time)
    assert v0_files <= set(listed)


# ---------------------------------------------------------------------------
# subset OPTIMIZE (round-12): partition-scoped + small-file-only
# ---------------------------------------------------------------------------


def test_optimize_partition_scoped(spark, tmp_path):
    """optimize(partitions=...) compacts ONLY the matching hive
    partitions; other partitions' files (and their deletion vectors)
    carry by name."""
    root = str(tmp_path / "tx")
    df = spark.range(0, 400).select(
        "id", (F.col("id") % 2).alias("p")
    ).repartition(8)
    txlog.create_table(spark, root, df, partition_by=("p",))
    txlog.delete_where(spark, root, "id < 10 AND p = 1", mode="dv")
    files_v1 = txlog.snapshot_info(root, 1)["files"]
    p0_before = {r for r in files_v1 if "/p=0/" in r}
    v = txlog.optimize(spark, root, partitions={"p": 0})
    snap = txlog.snapshot_info(root, v)
    # p=0 rewritten into fewer files; p=1 carried by NAME with its dv
    p0_after = {r for r in snap["files"] if "/p=0/" in r}
    p1_after = {r for r in snap["files"] if "/p=1/" in r}
    assert p0_after.isdisjoint(p0_before)
    assert p1_after == {r for r in files_v1 if "/p=1/" in r}
    assert snap["dv"], "the untouched partition keeps its vectors"
    got = txlog.read_table(spark, root)
    assert got.count() == 400 - 5  # ids 1,3,5,7,9 dv-deleted in p=1
    assert got.where("p = 1 AND id < 10").count() == 0
    # change feed across the scoped optimize is empty (identity)
    assert txlog.read_changes(spark, root, from_version=v - 1).count() == 0


def test_optimize_small_files_only(spark, tmp_path):
    """only_smaller_than: already-right-sized files are never
    re-churned (the Delta small-file selection)."""
    root = str(tmp_path / "tx")
    txlog.create_table(
        spark, root, spark.range(0, 200_000).select("id").coalesce(1)
    )
    big = txlog.snapshot_info(root, 0)["files"]
    assert len(big) == 1
    big_size = os.path.getsize(os.path.join(root, big[0]))
    for lo in range(0, 50, 10):  # five tiny appends
        txlog.append(spark, root, spark.range(200_000 + lo, 200_010 + lo).select("id").coalesce(1))
    v = txlog.optimize(spark, root, only_smaller_than=big_size // 2)
    snap = txlog.snapshot_info(root, v)
    assert big[0] in snap["files"], "the big file must carry untouched"
    assert len(snap["files"]) == 2  # big + one compacted small-file blob
    assert txlog.read_table(spark, root).count() == 200_050
    m = txlog._read_manifest(root, v)
    assert m["compacted_from"] == 5 and m["carried"] == 1


def test_optimize_noop_selection_commits_nothing(spark, tmp_path):
    root = str(tmp_path / "tx")
    txlog.create_table(
        spark, root, spark.range(0, 100).select("id").coalesce(1)
    )
    v0 = txlog.current_version(root)
    # single right-sized file, no dv, no clustering: nothing to do
    assert txlog.optimize(spark, root) == v0
    assert txlog.current_version(root) == v0
    # empty subset: nothing to do
    assert txlog.optimize(spark, root, only_smaller_than=1) == v0
    assert txlog.current_version(root) == v0
