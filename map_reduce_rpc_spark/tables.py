"""Loaders for the test star schema (see /root/repo/TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.

All loads go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free; at 100 TB these would be
partitioned/bucketed table roots instead of single files, but the call
surface is identical.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Every derived artifact lives under here as spark_graft_* (see
# derived_cache_dir and scratch_dir); all of it is safe to delete.
_CACHE_ROOT = "/tmp"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # Some testdata generations store ts as TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects unless this legacy conf is
        # on. Set it at runtime so ANY session (including
        # externally-constructed ones) can read it — relying on the
        # session builder alone breaks callers that bring their own
        # SparkSession. Runtime-settable conf; no-op if already set.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin the session tz so the NTZ->LTZ normalization below (and
        # every downstream hour/date extraction) is value-identical to
        # DuckDB's naive reading even under an externally-built session
        # (the driver brings its own). session.py already sets UTC.
        # SESSION-WIDE side effect, so: only when it differs, with a
        # warning — a caller whose session deliberately runs in another
        # timezone should see the mutation, not discover it later.
        if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
            import warnings

            warnings.warn(
                "load_table('events') sets spark.sql.session.timeZone=UTC "
                "for the WHOLE session (required for oracle-identical "
                "timestamp semantics); your session had a different zone",
                RuntimeWarning,
                stacklevel=2,
            )
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize ts to TIMESTAMP (LTZ) micros whatever the parquet
        # physical type of this testdata generation:
        #   - TIMESTAMP(NANOS) read via nanosAsLong -> bigint: integer-
        #     div to micros (exact — no double roundtrip), matching
        #     DuckDB's nanos->micros truncation.
        #   - timestamp[us] without tz -> TIMESTAMP_NTZ: cast to LTZ.
        #     The session timezone is pinned to UTC (session.py), so
        #     the cast is value-identical to DuckDB's naive reading.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread_partitions(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Ensure compute-dense map work is not serialized by a
    small-split scan.

    A parquet table smaller than ``spark.sql.files.maxPartitionBytes``
    scans as ONE partition, so everything fused into the scan stage
    (tokenization, hashing, n-gram explosion) runs on one core while
    the rest idle — the classic compute-per-byte / split-size
    mismatch. Guarded: only repartitions when the scan yields fewer
    splits than ``defaultParallelism``, so at 100 TB (thousands of
    splits) this is a no-op and no shuffle is added. The shuffle it
    does add at small scale moves raw input bytes once — trivially
    cheaper than leaving (cores - 1) idle through the expensive map.

    PRECONDITION: the partition count is probed via
    ``df.rdd.getNumPartitions()``, which under AQE can eagerly
    materialize query stages when the plan contains exchanges — so
    the probed frame must be a NARROW scan/projection (no join, no
    aggregate, no repartition upstream). Callers whose compute-dense
    frame is NOT narrow (e.g. a pruned semi-join of a small scan)
    pass that narrow source as ``probe``: the split-count decision is
    read from the probe while the repartition applies to ``df`` — at
    scale the probe has many splits and the whole call no-ops.
    """
    src = probe if probe is not None else df
    target = src.sparkSession.sparkContext.defaultParallelism
    if scan_is_small(src, target):
        return df.repartition(target)
    return df


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    units = {"k": 10, "m": 20, "g": 30, "b": 0}
    s = raw.strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in units:
        s = s[:-1]
    mult = 1 << units.get(s[-1], 0) if s[-1] in units else 1
    digits = s.rstrip("kmgb")
    try:
        return int(digits) * mult
    except ValueError:
        return 128 << 20


def scan_is_small(src: DataFrame, target: int) -> bool:
    """True when ``src``'s file scan will plan fewer splits than
    ``target``. Probed from the scan's FILE LIST (``inputFiles()`` +
    local stat), not ``df.rdd.getNumPartitions()``: the .rdd probe
    forces a full Catalyst plan -> RDD conversion (~0.12-0.15 s of
    single-threaded driver time per call, measured round 15, paid on
    EVERY query construction that consults the guard) where the file
    listing is ~2-4 ms. Decision rule: many files (>= target) or
    enough bytes to fill >= target splits of maxPartitionBytes means
    the scan parallelizes on its own -> not small. Any failure to
    list/stat (non-file source, remote fs) falls back to the exact
    .rdd probe, so the decision is never WRONG, only occasionally
    slower to make."""
    try:
        files = src.inputFiles()
        if not files:
            return src.rdd.getNumPartitions() < target
        max_split = _max_partition_bytes(src.sparkSession)
        open_cost = 4 << 20  # spark.sql.files.openCostInBytes default
        if len(files) * open_cost >= target * max_split:
            # enough files that open-cost alone fills >= target splits
            # under Spark's packing formula — skip the stat loop
            return False
        total = 0
        for f in files:
            p = f[7:] if f.startswith("file:") and f[5:7] == "//" else (
                f[5:] if f.startswith("file:") else f
            )
            total += os.path.getsize(p)
        # Spark packs files into splits of maxPartitionBytes charging
        # each file openCostInBytes on top of its size; the scan is
        # "small" when the packed cost cannot fill target splits.
        return total + len(files) * open_cost < target * max_split
    except Exception:
        return src.rdd.getNumPartitions() < target


def source_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Hex digest of ``sf_dir`` and the name, size and mtime of every
    file behind each source table: regenerating testdata in place
    changes it, so a cache keyed on it never serves rows derived from
    an older generation. An unreadable source folds in its path only."""
    fp = hashlib.md5(sf_dir.encode())
    for tbl in tables:
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        try:
            entries = sorted(os.listdir(src)) if os.path.isdir(src) else [src]
            for e in entries:
                p = e if os.path.isabs(e) else os.path.join(src, e)
                st = os.stat(p)
                fp.update(f"{e}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            pass
    return fp.hexdigest()


def derived_cache_dir(sf_dir: str, name: str, tables: tuple[str, ...], build) -> str:
    """Build-once cache dir for a query's derived copy of the testdata
    (layouts, mirrors, manifests, replay chunks, ...). Every derived
    artifact of the engine goes through here, under one policy:

    - **key**: ``/tmp/spark_graft_<name>_<fingerprint>``, the
      fingerprint being :func:`source_fingerprint` of the tables the
      artifact derives from, so a regenerated source builds a new copy
      instead of serving stale rows;
    - **pid build dir**: ``build(tmp)`` runs in ``<path>.build.<pid>``,
      cleared first so a leftover dir of a recycled pid cannot leak
      into the build. ``tmp`` does not exist when ``build`` is called
      (Spark writers refuse an existing dir); when it returns, this
      function writes the ``_SUCCESS`` marker the cache check reads;
    - **atomic publish**: the build dir is renamed into place, so a
      concurrent reader (bench + pytest) sees the whole artifact or
      none of it; the rename loser discards its copy and reuses the
      winner's (same fingerprint => equivalent contents).
    """
    fp = source_fingerprint(sf_dir, tables)[:12]
    path = f"{_CACHE_ROOT}/spark_graft_{name}_{fp}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.build.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.makedirs(tmp, exist_ok=True)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def scratch_dir(name: str, sf_dir: str) -> str:
    """Empty per-process scratch dir for a query that rebuilds its
    working state (checkpoints, state stores, catalog table files) on
    every call and leaves it on disk for the lazy plan it returns.

    The path is ``/tmp/spark_graft_<name>_<sf_dir digest>_<pid>``: the
    pid isolates concurrent processes, so no publish step is needed.
    Siblings left by dead pids are reaped and this process's own dir
    is cleared, so reruns neither accumulate copies nor read old state.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    prefix = f"{_CACHE_ROOT}/spark_graft_{name}_{tag}_"
    for stale in glob.glob(prefix + "*"):
        pid = stale[len(prefix):]
        dead = pid.isdigit() and not os.path.exists(f"/proc/{pid}")
        if dead and int(pid) != os.getpid():
            shutil.rmtree(stale, ignore_errors=True)
    path = f"{prefix}{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    return path
