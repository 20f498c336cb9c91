"""Output sinks.

- :func:`write_kv_text` — the reference's final output format E9:
  ``"key value"`` text lines, one file per reduce partition
  (``/root/reference/mr/worker.go:60-74`` writes ``mr-out-{R}`` via
  ``fmt.Fprintf("%v %v\\n")``; harness merges with ``sort mr-out*``,
  test-mr.sh:106 = E13).
- :func:`write_partitioned_parquet` — what a 100 TB pipeline writes
  instead: columnar, partition-pruned, statistics-bearing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_kv_text(
    df: DataFrame,
    path: str,
    num_partitions: int = 10,
    global_sort: bool = False,
    mode: str = "error",
) -> None:
    """Write ``(key, value)`` rows as ``"key value"`` text lines.

    Default mirrors the distributed reference: hash-partition into
    ``num_partitions`` buckets (nReduce=10, mr_coordinator.go:17), sort
    within each (mr/worker.go:58) — so each output file is a sorted
    ``mr-out-R`` analog. ``global_sort=True`` instead performs the
    harness's E13 merge (``sort mr-out*``) inside the engine via a
    range-partitioned total sort — still fully parallel, no
    ``coalesce(1)`` bottleneck.
    """
    lines = df.select(F.concat_ws(" ", F.col("key"), F.col("value")).alias("value"))
    if global_sort:
        out = lines.orderBy("value")
    else:
        out = (
            df.repartition(num_partitions, "key")
            .sortWithinPartitions("key", "value")
            .select(F.concat_ws(" ", F.col("key"), F.col("value")).alias("value"))
        )
    out.write.mode(mode).text(path)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "error",
) -> None:
    """Columnar sink with directory partitioning for partition pruning.

    At 100 TB, choose ``partition_by`` columns of moderate cardinality
    (date, region — not user_id): each distinct value is a directory,
    and readers filtering on them skip whole subtrees before any IO.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def merge_upsert_parquet(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Batch MERGE (upsert) into a plain-parquet table: rows in
    ``updates`` replace existing rows with the same key; all other
    existing rows survive. The batch analog of the streaming
    ``foreach_batch_overwrite(merge_on=...)`` sink — the same
    at-least-once -> exactly-once idempotence story (re-running the
    same updates yields the same table).

    With ``partition_cols``, only partitions PRESENT in the updates are
    rewritten (dynamic partition overwrite): survivors are read from
    just the touched partitions, anti-joined on the key, unioned with
    the updates, and written back — at 100 TB the rewrite is bounded by
    the updated slice (e.g. the revised dates), never the table. An
    unpartitioned table rewrites wholly (correct, but prefer a
    partition column once the table outgrows one rewrite).

    This is the plain-parquet degradation of Delta/Iceberg MERGE: no
    transaction log, so concurrent writers need external coordination;
    single-writer pipelines (the common batch-ETL case) get the same
    end state.
    """
    import os

    # NOT a _SUCCESS check: the dynamic-partition-overwrite committer
    # does not write a root _SUCCESS marker, so a _SUCCESS test would
    # see "no table" on the second merge and silently skip the merge
    # (dropping every survivor in the touched partitions).
    exists = os.path.isdir(path) and any(
        not name.startswith(".") for name in os.listdir(path)
    )
    out = updates
    if exists:
        existing = spark.read.parquet(path)
        survivors = existing.join(
            updates.select(*key_cols).distinct(), list(key_cols), "left_anti"
        )
        if partition_cols:
            touched = updates.select(*partition_cols).distinct()
            survivors = survivors.join(
                touched, list(partition_cols), "left_semi"
            )
        out = updates.unionByName(survivors.select(*updates.columns))
        # The scan (survivors) and the overwrite share ``path``: the
        # dynamic overwrite deletes a touched partition's files before
        # the lazy scan would read them, silently dropping survivors.
        # Materialize the merged result FIRST (eager localCheckpoint
        # cuts the lineage back to the doomed files); Delta/Iceberg
        # solve this with snapshot isolation, plain parquet solves it
        # by not reading and deleting in one plan.
        out = out.localCheckpoint()
    w = out.write.mode("overwrite")
    if partition_cols:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
            *partition_cols
        )
    w.parquet(path)


def merge_delete_parquet(
    spark,
    path: str,
    deletes: DataFrame,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Batch DELETE by key from a plain-parquet table — the
    right-to-be-forgotten verb completing the mutation family
    (merge_upsert_parquet, compact_parquet_dir): every row whose
    ``key_cols`` appear in ``deletes`` is removed; all other rows
    survive byte-identical. Idempotent (re-deleting absent keys is a
    no-op rewrite of the same survivors).

    With ``partition_cols``, only partitions CONTAINING a deleted key
    are rewritten (dynamic partition overwrite over the touched
    slice); untouched partitions' files are never opened for write —
    at 100 TB a delete's cost is bounded by the victims' partition
    spread, never the table. A touched partition whose rows are ALL
    deleted is removed explicitly after the overwrite: dynamic mode
    only rewrites partitions present in the OUTPUT, so a fully-emptied
    partition would otherwise silently keep its old files — the
    classic delete-verb bug, pinned in tests/test_scale.py.

    Same plain-parquet contract as the other verbs: single writer, no
    transaction log; Delta/Iceberg get the same end state with
    snapshot isolation on top.
    """
    import glob
    import os
    import shutil

    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return  # empty table (zero-row write leaves no footers): nothing to delete
    existing = spark.read.parquet(path)
    keys = deletes.select(*key_cols).distinct()
    if partition_cols:
        victims = existing.join(keys, list(key_cols), "left_semi")
        touched = [
            tuple(r) for r in victims.select(*partition_cols).distinct().collect()
        ]
        if not touched:
            return  # nothing to delete
        # partition filter as an OR of equality conjunctions (touched
        # list is driver-small by contract: the victims' spread)
        cond = None
        for t in touched:
            c = None
            for col, val in zip(partition_cols, t):
                eq = F.col(col) == F.lit(val)
                c = eq if c is None else (c & eq)
            cond = c if cond is None else (cond | c)
        scope = existing.where(cond)
        survivors = scope.join(keys, list(key_cols), "left_anti").localCheckpoint()
        kept_parts = {
            tuple(r)
            for r in survivors.select(*partition_cols).distinct().collect()
        }
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
        for t in touched:
            if t not in kept_parts:
                sub = os.path.join(
                    path,
                    *[f"{col}={val}" for col, val in zip(partition_cols, t)],
                )
                shutil.rmtree(sub, ignore_errors=True)
        return
    survivors = existing.join(keys, list(key_cols), "left_anti").localCheckpoint()
    survivors.write.mode("overwrite").parquet(path)


def read_parquet_evolving(spark, path: str) -> DataFrame:
    """Read a parquet directory whose SCHEMA EVOLVED across writes
    (later files added columns): ``mergeSchema`` unions all file
    footers' schemas; files missing a column surface NULLs for it.

    The 100 TB reality this serves: a year of daily partitions where a
    column was added in month 7 — without mergeSchema the read binds to
    one random footer's schema and either loses the new column or fails
    on the old files. Costs one footer read per file at planning time
    (why it is off by default); predicate pushdown and column pruning
    still apply per file.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    files: int | None = None,
    mode: str = "error",
) -> None:
    """Range-clustered columnar layout: ``repartitionByRange`` on the
    cluster columns, then sort within each partition before writing.

    Directory partitioning (write_partitioned_parquet) prunes on LOW
    cardinality columns; this is the complementary lever for HIGH
    cardinality ones (timestamps, ids): each output file covers a
    narrow, nearly disjoint range of the cluster key, so parquet
    footer/row-group min-max statistics let a filtering reader skip
    whole files without a partition directory per value. At 100 TB
    this is the difference between "scan everything and filter" and
    "open the 3 files whose stats overlap the predicate" — the plain-
    parquet analog of Delta/Iceberg OPTIMIZE ZORDER for the
    single-dimension case (for multi-dim clustering, compose a
    interleaved key upstream and cluster by it).

    ``files`` controls output file count (defaults to the session's
    shuffle parallelism); range boundaries come from sampling, which
    also balances skewed key distributions across files.
    """
    parts = df.repartitionByRange(files, *cluster_by) if files else (
        df.repartitionByRange(*cluster_by)
    )
    parts.sortWithinPartitions(*cluster_by).write.mode(mode).parquet(path)


def zorder_key(
    cols: tuple[Column, ...] | list[Column],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
) -> Column:
    """Morton (Z-order) interleaved key over N numeric columns: each
    value is min-max scaled to a ``bits``-bit integer, then the bit
    planes are interleaved (bit b of column j lands at position
    ``b*N + j``), so sorting by the key gives every column
    simultaneous spatial locality — the Delta/Iceberg OPTIMIZE ZORDER
    primitive, as one pure codegen expression.

    ``mins``/``maxs`` are caller-supplied literals (one tiny agg
    upstream — the index-build contract, like IVF centroids riding the
    plan as literals), so the key is a narrow map: no join, no
    shuffle, no Python, and deterministic/engine-replayable (floor on
    exact scaled doubles). Values outside [min, max] clamp to the edge
    cells — new data beyond the calibrated range degrades locality,
    never correctness. The interleave itself is
    ``operators/scale.morton_key`` (bits*N <= 63)."""
    from ..operators.scale import morton_key

    if not (len(mins) == len(maxs) == len(cols)):
        raise ValueError("cols, mins, maxs must align")
    top = (1 << bits) - 1
    scaled_cols = []
    for c, lo, hi in zip(cols, mins, maxs):
        if hi > lo:
            scaled = F.floor(
                (c.cast("double") - F.lit(float(lo)))
                * F.lit(float(top) / (float(hi) - float(lo)))
            ).cast("long")
        else:
            scaled = F.lit(0).cast("long")
        scaled_cols.append(
            F.least(
                F.lit(top).cast("long"),
                F.greatest(F.lit(0).cast("long"), scaled),
            )
        )
    return morton_key(scaled_cols, bits)


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    zcols: tuple[Column, ...] | list[Column],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
    files: int | None = None,
    mode: str = "error",
) -> None:
    """Multi-dimension clustered layout: range-partition + sort by the
    Morton key of ``zcols`` (see :func:`zorder_key`), drop the key,
    write. Each output file then covers a small HYPER-RECTANGLE of the
    key space, so parquet footer min/max stats prune files for
    predicates on ANY of the clustered columns — where
    write_clustered_parquet (1-D range) prunes only its leading
    column. The measured 2-D skip ratios are pinned in
    tests/test_scale.py::test_zorder_beats_range_clustering_on_second_dim.

    ``zcols`` are expressions (e.g. ``F.datediff(col, lit(epoch))``
    for dates), so any orderable type reduces to the numeric contract.
    """
    keyed = df.withColumn("_zkey", zorder_key(zcols, mins, maxs, bits))
    parts = (
        keyed.repartitionByRange(files, "_zkey")
        if files
        else keyed.repartitionByRange("_zkey")
    )
    parts.sortWithinPartitions("_zkey").drop("_zkey").write.mode(mode).parquet(path)


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    sort_within: tuple[str, ...] = (),
) -> int:
    """Compact a small-file parquet directory in place: rewrite to
    ``ceil(total_bytes / target_file_bytes)`` files (optionally
    re-sorted within each output file to restore clustering for
    footer-stat pruning), then atomically swap the directory. Returns
    the output file count.

    The small-file problem is the silent killer of long-lived 100 TB
    tables: streaming sinks and fine-grained MERGEs leave thousands of
    KB-scale files per partition, and every later scan pays task
    startup + footer reads per file. Compaction trades one bounded
    rewrite for every future scan's speedup — the OPTIMIZE verb of
    Delta/Iceberg, degraded to plain parquet (single-writer contract,
    like merge_upsert_parquet).

    Sizing note: file count derives from the CURRENT on-disk bytes, so
    compression ratio changes under re-sort can land files above or
    below target — a sizing heuristic, not a guarantee (same as
    Delta's OPTIMIZE).

    A Hive-partitioned directory is REFUSED: flat-rewriting it would
    demote the partition column to a regular column and destroy the
    directory-pruning layout (and the top-level byte scan would size
    it as 0). Compact partitioned tables one partition directory at a
    time — which also bounds each rewrite, exactly what a 100 TB table
    needs.

    The swap is two renames; a crash between them leaves ``path``
    missing but ALL data intact in ``<path>_compact_old`` (the
    original) — single-writer recovery is one rename back. A failed
    second rename is rolled back automatically.
    """
    import math
    import os
    import shutil

    part_dirs = [
        f
        for f in os.listdir(path)
        if "=" in f and os.path.isdir(os.path.join(path, f))
    ]
    if part_dirs:
        raise ValueError(
            f"{path} is Hive-partitioned ({part_dirs[0]}, ...): compact each "
            "partition directory individually to preserve the layout"
        )
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "_compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if sort_within:
        out = df.repartitionByRange(n_files, *sort_within).sortWithinPartitions(
            *sort_within
        )
    else:
        out = df.repartition(n_files)
    out.write.parquet(tmp)
    old = path.rstrip("/") + "_compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(path, old)
    try:
        os.replace(tmp, path)
    except OSError:
        os.replace(old, path)  # roll the original back in
        raise
    shutil.rmtree(old, ignore_errors=True)
    return n_files
