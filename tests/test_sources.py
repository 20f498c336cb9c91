"""Source/sink round-trips (reference E1/E4/E5/E9 formats)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from map_reduce_rpc_spark.sources import documents, jsonlines, sinks


def _write_corpus(tmp_path):
    files = {
        "a.txt": "the quick brown fox\njumps over",
        "b.txt": "the lazy dog",
        "c.txt": "",
    }
    for name, text in files.items():
        (tmp_path / name).write_text(text)
    return files


def test_read_whole_files(spark, tmp_path):
    files = _write_corpus(tmp_path)
    df = documents.read_whole_files(spark, str(tmp_path / "*.txt"))
    rows = {os.path.basename(r.doc_id): r.text for r in df.collect()}
    assert rows == files  # one file -> one row, byte-exact contents


def test_read_text_lines_and_reassemble(spark, tmp_path):
    _write_corpus(tmp_path)
    lines = documents.read_text_lines(spark, str(tmp_path / "*.txt"))
    per_doc = {
        os.path.basename(r.doc_id): r.cnt
        for r in lines.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    # empty file yields no line rows; two-line file yields 2
    assert per_doc == {"a.txt": 2, "b.txt": 1}

    docs = documents.reassemble_documents(lines)
    text = {
        os.path.basename(r.doc_id): sorted(r.text.split("\n")) for r in docs.collect()
    }
    assert text["a.txt"] == sorted(["the quick brown fox", "jumps over"])


def test_kv_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("apple", "1"), ("banana", "2"), ("apple", "3")], ["key", "value"]
    )
    out = str(tmp_path / "kv")
    jsonlines.write_kv_jsonl(df, out, num_buckets=3)
    back = jsonlines.read_kv_jsonl(spark, out)
    assert sorted((r.key, r.value) for r in back.collect()) == [
        ("apple", "1"),
        ("apple", "3"),
        ("banana", "2"),
    ]
    # on-disk format parity: {"Key":...,"Value":...} objects
    raw = "".join(
        open(p).read() for p in glob.glob(os.path.join(out, "part-*"))
    )
    assert '"Key":"apple"' in raw and '"Value":"2"' in raw


def test_write_kv_text_bucketed_sorted(spark, tmp_path):
    df = spark.createDataFrame(
        [("b", "2"), ("a", "1"), ("c", "3"), ("a", "0")], ["key", "value"]
    )
    out = str(tmp_path / "txt")
    sinks.write_kv_text(df, out, num_partitions=2)
    parts = sorted(glob.glob(os.path.join(out, "part-*")))
    all_lines: list[str] = []
    for p in parts:
        lines = [ln for ln in open(p).read().splitlines() if ln]
        assert lines == sorted(lines)  # sorted within each bucket (E6)
        all_lines.extend(lines)
    assert sorted(all_lines) == ["a 0", "a 1", "b 2", "c 3"]  # E13 merge


def test_write_kv_text_global_sort(spark, tmp_path):
    df = spark.createDataFrame([("b", "2"), ("a", "1")], ["key", "value"])
    out = str(tmp_path / "gtxt")
    sinks.write_kv_text(df, out, global_sort=True)
    lines = []
    for p in sorted(glob.glob(os.path.join(out, "part-*"))):
        lines.extend(ln for ln in open(p).read().splitlines() if ln)
    assert lines == ["a 1", "b 2"]


def test_write_partitioned_parquet(spark, tmp_path):
    df = spark.createDataFrame(
        [("2024-01-01", "x", 1), ("2024-01-02", "y", 2)], ["day", "k", "v"]
    )
    out = str(tmp_path / "pq")
    sinks.write_partitioned_parquet(df, out, partition_by=("day",))
    assert os.path.isdir(os.path.join(out, "day=2024-01-01"))
    back = spark.read.parquet(out)
    assert back.count() == 2
    # partition pruning: filter on the partition col reads one subtree
    plan = back.where(F.col("day") == "2024-01-01")._jdf.queryExecution().executedPlan().toString()
    assert "2024-01-02" not in plan


def test_csv_malformed_quarantine(spark, tmp_path):
    """PERMISSIVE CSV: bad rows land in _corrupt_record and split
    cleanly into a dead-letter side; DROPMALFORMED silently drops;
    FAILFAST raises."""
    import pytest

    from map_reduce_rpc_spark.sources import delimited

    p = tmp_path / "in.csv"
    p.write_text("id,score\n1,0.5\nnot_an_int,oops,extra\n3,1.25\n")
    df = delimited.read_csv(spark, str(p), "id int, score double")
    good, bad = delimited.split_quarantine(df)
    assert sorted(r.id for r in good.collect()) == [1, 3]
    assert bad.count() == 1 and "not_an_int" in bad.first()[0]

    dropped = delimited.read_csv(
        spark, str(p), "id int, score double", mode="DROPMALFORMED"
    )
    # collect(), not count(): CSV column pruning skips parsing (and so
    # malformed detection) for queries that read no columns
    assert len(dropped.collect()) == 2

    strict = delimited.read_csv(
        spark, str(p), "id int, score double", mode="FAILFAST"
    )
    with pytest.raises(Exception, match="FAILED_READ_FILE|[Mm]alformed"):
        strict.collect()  # collect, not count — see pruning note above


def test_jsonl_malformed_quarantine(spark, tmp_path):
    from map_reduce_rpc_spark.sources import delimited

    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "score": 0.5}\n{broken json\n{"id": 3}\n')
    df = delimited.read_jsonl(spark, str(p), "id int, score double")
    good, bad = delimited.split_quarantine(df)
    rows = {r.id: r.score for r in good.collect()}
    assert rows == {1: 0.5, 3: None}
    assert bad.count() == 1
    df.unpersist()


def test_write_quarantine_split_one_pass(spark, tmp_path):
    """Scale path: one streaming pass, rows routed by parse outcome
    into partition subtrees; clean subtree reads back pruned."""
    from map_reduce_rpc_spark.sources import delimited

    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "score": 0.5}\n{broken json\n{"id": 3}\n')
    df = delimited.read_jsonl(spark, str(p), "id int, score double")
    out = str(tmp_path / "routed")
    delimited.write_quarantine_split(df, out)
    import os

    assert os.path.isdir(os.path.join(out, "is_bad=false"))
    assert os.path.isdir(os.path.join(out, "is_bad=true"))
    back = spark.read.parquet(out)
    # partition values come back as strings (no bool type inference)
    assert back.where("is_bad = 'true'").count() == 1
    assert back.where("is_bad = 'false'").count() == 2


def _snapshot_dir(root: str) -> dict[str, tuple[float, str]]:
    """path -> (mtime, md5) for every file under root."""
    import hashlib

    snap: dict[str, tuple[float, str]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                digest = hashlib.md5(fh.read()).hexdigest()
            snap[os.path.relpath(p, root)] = (os.stat(p).st_mtime, digest)
    return snap


def test_write_finalization_is_immutable(spark, tmp_path):
    """early_exit analog (/root/reference/test-mr.sh:229-283): once the
    first writer returns, the output directory must never change —
    no file may appear, disappear, or be rewritten by later work.
    Spark's commit protocol gives this (task temp dirs + atomic job
    commit = the reference's os.Rename finalization, mr/worker.go);
    this pins it: snapshot listing+mtimes+checksums after write, run
    more actions (including another write elsewhere), re-compare."""
    df = spark.createDataFrame(
        [("b", "2"), ("a", "1"), ("c", "3")], ["key", "value"]
    )
    out = str(tmp_path / "final_txt")
    sinks.write_kv_text(df, out, num_partitions=2)
    snap1 = _snapshot_dir(out)
    assert any(p.startswith("part-") for p in snap1), snap1

    # subsequent actions: a read of the written output, a second write
    # to a sibling dir, and an unrelated aggregation
    assert spark.read.text(out).count() == 3
    sinks.write_kv_text(df, str(tmp_path / "final_txt2"), num_partitions=2)
    df.groupBy("key").count().collect()

    assert _snapshot_dir(out) == snap1  # byte-stable after finalization


def test_orc_roundtrip_partition_pruning_and_pushdown(spark, tmp_path):
    """ORC sink/source: exact roundtrip, directory-partition pruning,
    and predicate pushdown reaching the ORC scan (same optimizer
    contract as parquet — the reason the format swap is one call)."""
    from map_reduce_rpc_spark.sources import columnar

    df = spark.createDataFrame(
        [("2024-01-01", "x", 1), ("2024-01-01", "y", 5), ("2024-01-02", "z", 2)],
        ["day", "k", "v"],
    )
    out = str(tmp_path / "orc")
    columnar.write_orc(df, out, partition_by=("day",))
    assert os.path.isdir(os.path.join(out, "day=2024-01-01"))

    back = columnar.read_orc(spark, out)
    # str(): Spark's partition-value inference types day= dirs as DATE
    assert sorted((str(r["day"]), r["k"], r["v"]) for r in back.collect()) == [
        ("2024-01-01", "x", 1),
        ("2024-01-01", "y", 5),
        ("2024-01-02", "z", 2),
    ]
    # partition pruning: filter on the partition col reads one subtree
    plan = (
        back.where(F.col("day") == "2024-01-01")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "2024-01-02" not in plan
    # predicate pushdown on a data column reaches the ORC scan
    plan2 = (
        back.where(F.col("v") > 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,3)]" in plan2


def test_write_clustered_parquet_enables_file_skipping(spark, tmp_path):
    """Range clustering must produce files with narrow, ordered key
    ranges (parquet footer stats), so a point/range predicate overlaps
    only a fraction of files — the data-skipping contract."""
    import pyarrow.parquet as pq_mod

    from map_reduce_rpc_spark.sources import sinks

    df = spark.range(0, 100_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    out = str(tmp_path / "clustered")
    sinks.write_clustered_parquet(df, out, ("k",), files=8)

    ranges = []
    for p in glob.glob(os.path.join(out, "part-*.parquet")):
        md = pq_mod.ParquetFile(p).metadata
        ci = md.row_group(0).column(0)
        lo = ci.statistics.min
        hi = md.row_group(md.num_row_groups - 1).column(0).statistics.max
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) == 8
    # files cover disjoint, ordered ranges (clustered, not hashed)
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b
    # a narrow predicate overlaps exactly one file's range
    probe = 12_345
    overlapping = [r for r in ranges if r[0] <= probe <= r[1]]
    assert len(overlapping) == 1


def test_merge_upsert_parquet_partition_scoped(spark, tmp_path):
    """Batch MERGE: updates replace same-key rows, survivors in touched
    partitions and whole untouched partitions are preserved, and
    re-applying the same updates is idempotent."""
    from map_reduce_rpc_spark.sources import sinks

    path = str(tmp_path / "t")

    def table():
        return {
            (r["d"], r["k"], r["v"])
            for r in spark.read.parquet(path).collect()
        }

    base = spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (2, 20, "c"), (3, 30, "d")],
        "d int, k int, v string",
    )
    sinks.merge_upsert_parquet(spark, path, base, ("k",), ("d",))
    assert table() == {(1, 10, "a"), (1, 11, "b"), (2, 20, "c"), (3, 30, "d")}

    # update k=10 (day 1), insert k=12 (day 1), insert day 4; day 2/3 untouched
    upd = spark.createDataFrame(
        [(1, 10, "a2"), (1, 12, "e"), (4, 40, "f")], "d int, k int, v string"
    )
    sinks.merge_upsert_parquet(spark, path, upd, ("k",), ("d",))
    expect = {
        (1, 10, "a2"), (1, 11, "b"), (1, 12, "e"),
        (2, 20, "c"), (3, 30, "d"), (4, 40, "f"),
    }
    assert table() == expect

    # idempotence: same updates again -> same table
    sinks.merge_upsert_parquet(spark, path, upd, ("k",), ("d",))
    assert table() == expect


def test_read_parquet_evolving_merges_schemas(spark, tmp_path):
    """Schema evolution: a later write adds a column; mergeSchema reads
    old + new files as one relation with NULLs for the missing column,
    and a filter on the new column still prunes correctly."""
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.sources import sinks

    path = str(tmp_path / "ev")
    spark.createDataFrame([(1, "x")], "id long, a string").write.parquet(path)
    spark.createDataFrame(
        [(2, "y", 7)], "id long, a string, b int"
    ).write.mode("append").parquet(path)

    df = sinks.read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "a", "b"}
    rows = {(r["id"], r["a"], r["b"]) for r in df.collect()}
    assert rows == {(1, "x", None), (2, "y", 7)}
    assert df.where(F.col("b") == 7).count() == 1
    assert df.where(F.col("b").isNull()).count() == 1


def test_xml_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """Spark 4's native XML source through the same explicit-schema +
    dead-letter contract as CSV/JSONL: a clean roundtrip preserves
    values, and a malformed element lands in _corrupt_record instead
    of killing the read."""
    from map_reduce_rpc_spark.sources.delimited import (
        CORRUPT_COL,
        read_xml,
        write_xml,
    )
    from map_reduce_rpc_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = str(tmp_path / "orders_xml")
    write_xml(orders, out)
    back = read_xml(
        spark,
        out,
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    got = {
        (r.o_orderkey, r.o_orderpriority, r.o_totalprice)
        for r in back.where(back[CORRUPT_COL].isNull()).collect()
    }
    want = {tuple(r) for r in orders.collect()}
    assert got == want

    # malformed element: o_orderkey not a long -> quarantined
    bad_dir = tmp_path / "bad_xml"
    bad_dir.mkdir()
    (bad_dir / "bad.xml").write_text(
        "<rows><row><o_orderkey>7</o_orderkey>"
        "<o_orderpriority>1-URGENT</o_orderpriority>"
        "<o_totalprice>10.5</o_totalprice></row>"
        "<row><o_orderkey>NOT_A_NUMBER</o_orderkey>"
        "<o_orderpriority>2-HIGH</o_orderpriority>"
        "<o_totalprice>3.25</o_totalprice></row></rows>"
    )
    parsed = read_xml(
        spark,
        str(bad_dir),
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    ).cache()
    good = parsed.where(parsed[CORRUPT_COL].isNull())
    bad = parsed.where(parsed[CORRUPT_COL].isNotNull())
    assert good.count() == 1 and good.first().o_orderkey == 7
    assert bad.count() == 1


def test_kvtext_python_datasource_roundtrip(spark, sf_dir, tmp_path):
    """The Spark 4 Python Data Source API over the reference's own
    mr-out format: write with the JVM-side kv-text sink, read back
    through spark.read.format('kvtext') — values equal, one input
    partition per reducer file, and first-space-only value splitting
    (indexer values contain spaces) preserved."""
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.sources import kvtext_source, sinks
    from map_reduce_rpc_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    kv = docs.select(
        F.concat(F.lit("doc"), F.col("doc_id")).alias("key"),
        # value WITH spaces: the indexer-style "<count> <list>" shape
        F.concat_ws(" ", F.col("n_chars"), F.col("lang"), F.col("source")).alias(
            "value"
        ),
    )
    out = str(tmp_path / "kvout")
    sinks.write_kv_text(kv, out, num_partitions=4)
    kvtext_source.register(spark)
    back = spark.read.format("kvtext").option("path", out).load()
    assert back.rdd.getNumPartitions() == 4
    got = {(r.key, r.value) for r in back.collect()}
    want = {(r.key, r.value) for r in kv.collect()}
    assert got == want


def test_compact_parquet_dir_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """Compaction must collapse a many-small-files directory to the
    byte-derived target count, keep every row byte-identical, and —
    with sort_within — restore footer-stat clustering (non-overlapping
    file ranges) that later scans prune on."""
    import glob

    import pyarrow.parquet as pq_mod

    from map_reduce_rpc_spark.sources.sinks import compact_parquet_dir
    from map_reduce_rpc_spark.tables import load_table

    out = str(tmp_path / "frag")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.parquet(out)  # 64 tiny files
    before = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert len(glob.glob(out + "/part-*.parquet")) == 64

    n = compact_parquet_dir(
        spark, out, target_file_bytes=1 << 20, sort_within=("l_shipdate",)
    )
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == n < 64
    after = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert after == before
    # clustering restored: per-file shipdate ranges barely overlap
    spans = []
    for p in files:
        md = pq_mod.ParquetFile(p).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "l_shipdate":
                    los.append(col.statistics.min)
                    his.append(col.statistics.max)
        spans.append((min(los), max(his)))
    spans.sort()
    overlaps = sum(
        1 for (a, b) in zip(spans, spans[1:]) if a[1] > b[0]
    )
    assert overlaps <= max(1, len(spans) // 4), spans


def test_compact_refuses_partitioned_directory(spark, sf_dir, tmp_path):
    """Flat-compacting a Hive-partitioned table would demote the
    partition column and destroy directory pruning — the op must
    refuse loudly, not mis-size to one file."""
    import pytest as _pytest

    from map_reduce_rpc_spark.sources.sinks import compact_parquet_dir
    from map_reduce_rpc_spark.tables import load_table

    out = str(tmp_path / "part_tbl")
    load_table(spark, sf_dir, "orders").withColumn(
        "pri", F.substring("o_orderpriority", 1, 1)
    ).write.partitionBy("pri").parquet(out)
    with _pytest.raises(ValueError, match="Hive-partitioned"):
        compact_parquet_dir(spark, out)


def test_avro_roundtrip_all_types(spark, sf_dir, tmp_path):
    """Pure-python Avro container sink -> pyavro source: byte-level
    container format per the public Avro spec, value-exact roundtrip
    of long/string/double/timestamp columns on the real events table."""
    from map_reduce_rpc_spark.sources import avro_py

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = str(tmp_path / "events_avro")
    avro_py.write_avro(ev, out, codec="deflate")
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = avro_py.read_avro(spark, out)
    assert back.where(F.col(avro_py.CORRUPT_COL).isNotNull()).count() == 0
    back = back.drop(avro_py.CORRUPT_COL)
    assert back.schema == ev.schema or [
        (f.name, f.dataType.simpleString()) for f in back.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in ev.schema.fields]
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_avro_quarantine_resync_and_failfast(spark, tmp_path):
    """A corrupted block dead-letters ONE _corrupt_record row and the
    reader resyncs at the next sync marker; FAILFAST raises instead —
    the same contract as the CSV/JSONL quarantine."""
    import pytest

    from map_reduce_rpc_spark.sources import avro_py

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    ).coalesce(1)
    out = str(tmp_path / "q_avro")
    avro_py.write_avro(df, out)
    # shrink blocks: rewrite the single part as 3 small containers so
    # corruption hits only the middle one
    part = os.path.join(out, "part-00000.avro")
    rows = [
        {"k": r.k, "s": r.s} for r in spark.read.format("pyavro")
        .option("path", out).load().drop(avro_py.CORRUPT_COL).collect()
    ]
    os.remove(part)
    schema = avro_py._avro_schema_of(df)
    for i in range(3):
        avro_py._write_container(
            rows[i * 1000 : (i + 1) * 1000],
            schema,
            os.path.join(out, f"part-{i:05d}.avro"),
            "null",
        )
    victim = os.path.join(out, "part-00001.avro")
    blob = bytearray(open(victim, "rb").read())
    mid = len(blob) // 2
    for off in range(mid, mid + 8):  # stomp 8 bytes mid-block
        blob[off] ^= 0xFF
    open(victim, "wb").write(bytes(blob))

    got = avro_py.read_avro(spark, out)
    bad = got.where(F.col(avro_py.CORRUPT_COL).isNotNull())
    good = got.where(F.col(avro_py.CORRUPT_COL).isNull())
    assert bad.count() == 1  # one dead-letter row for the stomped block
    # both intact files fully recovered; the victim loses <= one block
    assert good.count() >= 2000
    assert good.count() < 3000
    row = bad.first()
    assert row.k is None and len(row[avro_py.CORRUPT_COL]) > 0

    with pytest.raises(Exception, match="malformed|FAILFAST|sync|avro"):
        avro_py.read_avro(spark, out, mode="FAILFAST").count()


def test_avro_codec_edge_values(spark, tmp_path):
    """Zigzag/varint edge cases roundtrip exactly: negative longs,
    int64 extremes, empty strings, unicode, and NULLs in every
    nullable column."""
    from map_reduce_rpc_spark.sources import avro_py

    rows = [
        (-(2**62), "", None),
        (2**62, "héllo wörld ☃", 1.5),
        (None, None, float("inf")),
        (0, "x" * 10_000, -0.0),
        (-1, "newline\nand tab\t", None),
    ]
    df = spark.createDataFrame(rows, "k long, s string, d double")
    out = str(tmp_path / "edge_avro")
    avro_py.write_avro(df, out)
    back = (
        avro_py.read_avro(spark, out)
        .drop(avro_py.CORRUPT_COL)
        .collect()
    )
    assert sorted(map(tuple, back), key=str) == sorted(rows, key=str)
