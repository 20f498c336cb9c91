"""A minimal transactional table format over plain parquet — the
commit-log design Delta/Iceberg pin down (their jars are absent in
this container; round-7 verdict "what's missing" item 2), reduced to
the properties that actually matter and nothing else:

- **Atomic commits.** A table is ``root/data/**.parquet`` plus an
  append-only log ``root/_txlog/v{N:08d}.json``. A writer stages new
  files under unique names, then publishes version N by hard-linking
  a fully written+fsynced temp manifest to the version name — one
  atomic metadata op that both claims the version (fails if taken)
  and makes the complete manifest bytes visible, so a crash leaves
  only unreferenced garbage, never a torn table.
- **Delta-action log + checkpoints (round-11).** Ordinary commits
  write a DELTA manifest — just ``add``/``remove`` file actions plus
  stats for the added files, O(touched files) bytes per commit, never
  O(table). Every ``checkpoint_every`` versions (default 20, fixed at
  create) and on create/restore/optimize, a FULL manifest snapshots
  the complete file list + stats + schema, so resolving any version
  replays at most ``checkpoint_every`` manifests — the Delta
  log-plus-parquet-checkpoint shape, which is what keeps commit cost
  flat at 10^6-file tables instead of O(files) JSON per commit.
- **Optimistic concurrency.** Two writers racing to version N: one
  link wins; the loser re-reads the NEW current snapshot, re-derives
  its logical change on top, and retries at N+1 — serializable
  append/delete/merge without any lock server, exactly the Delta
  protocol shape. Every writer verb retries through ONE loop,
  :func:`_transact` (at most ``_MAX_COMMIT_RETRIES`` = 20 claims, then
  ``RuntimeError``); create/clone claim v0 once. Concurrent SCHEMA
  evolutions merge: a retrying writer re-derives its evolution
  against the new parent's schema, so a racing writer's added column
  is never rolled back.
- **Snapshot isolation + time travel.** Readers resolve one committed
  version's file list and read exactly it; concurrent commits never
  move a running query's snapshot. Old versions stay readable until
  ``vacuum``.
- **Hive-style partition columns (round-11).**
  ``create_table(..., partition_by=("month",))`` lays data out as
  ``data/month=X/part-*.parquet``; partition values live in the file
  PATHS (recorded per-file in the manifest implicitly), and
  ``read_table(..., partitions={"month": [...]})`` prunes untouched
  partitions at PLANNING time from driver-side metadata — no listing,
  no footer IO — before Spark's own partition pruning applies inside
  the scan. Date-partitioned ingest reads only its days.
- **File-level delete / MERGE / OPTIMIZE / CDF / RESTORE.** As in
  Delta: ``delete_where`` and :func:`merge` rewrite only files that
  contain victims (one ``input_file_name`` probe job, pre-pruned by
  the manifest's per-file key min/max stats); :func:`read_changes`
  derives row-level insert/delete changes straight from the logged
  add/remove actions — O(touched files) per commit; :func:`optimize`
  compacts as a commit (pinned readers keep their file list; the
  change feed across it is empty by construction); :func:`restore`
  rolls back as a new commit, history preserved.
- **Schema evolution incl. type WIDENING (round-11).**
  ``append(..., merge_schema=True)`` can ADD columns and can WIDEN an
  existing column's type losslessly (int->long, float->double,
  decimal precision growth — the ``_cast_is_lossless`` whitelist);
  the commit records the widened schema, readers bind to the
  snapshot's schema (old narrow files up-cast on read, pre-evolution
  files surface NULLs for added columns), and time travel before the
  evolution shows the OLD shape. Lossy writes still fail loudly.
- **Exactly-once ingestion.** The Delta (app_id, txn_version)
  idempotence map makes a redelivered CDC/streaming batch a no-op.
- **Deletion vectors (round-12).** ``delete_where(mode="dv")`` is
  merge-on-read: the commit records each touched file's deleted row
  positions in one sidecar — O(deleted rows) of metadata, ZERO files
  rewritten — and every reader anti-joins the broadcast (file,
  ``_metadata.row_index``) pairs out. :func:`optimize` materializes
  vectors away; :func:`row_count` subtracts them with zero IO; the
  change feed derives dv deletes from the position diff. The 100 TB
  point-delete (GDPR forget) no longer rewrites GBs to remove KBs.
- **Column mapping (round-12).** :func:`rename_column` /
  :func:`drop_column` are metadata-only commits: logical names live
  in the manifest (``column_mapping``), physical file columns are
  immutable, and a re-added dropped name takes a FRESH physical name
  so old bytes never resurrect. Zero overhead until activated.
- **Pluggable LogStore (round-12).** The commit primitive (atomic
  claim + full-bytes publish), durability barrier, and CLONE's file
  share live behind ``logstore.LogStore``: POSIX temp+hardlink by
  default, a simulated object-store conditional PUT
  (``ConditionalPutLogStore``) proving the protocol needs no hard
  links — the S3/GCS port path (see logstore.py's mapping table).
- **SQL surface (round-12).** ``spark.read.format("txlog")``
  (``txlog_source.py``, Spark 4 Python Data Source) gives SQL-only
  sessions the full protocol — snapshot binding, mapping, vectors,
  partition typing; :func:`read_table` stays the codegen'd fast path.

Retention contract (vacuum): ``vacuum(retain_versions=k)`` keeps the
newest ``k`` snapshots' files; MANIFESTS are never deleted, but a
reader pinned at an older version — or a DataFrame handle resolved
before the vacuum — can fail mid-scan once its files are removed,
exactly Delta's documented VACUUM hazard. ``retain_versions`` must be
>= 1, and the stale-temp-manifest sweep only touches ``.tmp-*.json``
older than one hour — far beyond any live writer's sub-second
write->link window, so a stalled writer is never raced (and if one
ever is, ``_try_commit`` treats the lost temp as a retryable race,
not a crash).

Cite: this replaces nothing in the reference — the reference has no
storage layer at all (its output is `mr-out-*` text files,
/root/reference/mr/worker.go:60-74); this is the beyond-reference
lakehouse surface.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property, lru_cache as _lru_cache
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .logstore import LogStore, PosixLogStore

_LOG = "_txlog"
_DATA = "data"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_TMP_RETAIN_SECS = 3600  # stale temp-manifest sweep threshold
DEFAULT_CHECKPOINT_EVERY = 20
# full manifests at or above this file count move their file list +
# stats into a COLUMNAR parquet sidecar (the Delta parquet-checkpoint
# design): the JSON manifest stays O(1) bytes, and a 10^6-file
# checkpoint is a sub-second columnar read instead of a ~100 MB JSON
# parse. Below it, inline JSON keeps small tables single-file simple.
SIDECAR_MIN_FILES = 20_000

# Reader-feature gating (round-14, the Delta minReaderVersion /
# readerFeatures answer): every commit records the set of format
# features a reader MUST understand to reconstruct that snapshot
# correctly, and every manifest read checks it against this build's
# known set. Without the gate, an older build of this library (or a
# third-party reader of the format) silently IGNORES unknown manifest
# keys — a pre-deletion-vector reader skips m["dv"] and RESURRECTS
# deleted rows; a pre-mapping reader decodes physical column names as
# logical ones. Sticky per table: once a snapshot requires a feature,
# every later manifest carries it (history still binds per-manifest,
# so time travel to a pre-feature version never over-requires).
_KNOWN_READER_FEATURES = frozenset(
    {
        "deletion_vectors",  # dv sidecars hide rows in-place
        "column_mapping",  # physical<->logical name indirection
        "partitioning",  # hive path dirs carry dropped columns
        "file_sidecar",  # file list/stats/dv spilled to parquet
        "overwrite",  # full-manifest wholesale replace commits
    }
)

# The storage backend for the COMMIT primitive (atomic claim + full-
# bytes publish), the post-publish durability barrier, and CLONE's
# zero-copy file share — everything else in this module is plain reads
# and uniquely-named writes that work on any store. POSIX hard-link
# protocol by default; swap in logstore.ConditionalPutLogStore (or a
# real object-store implementation) via set_log_store /
# using_log_store to run the identical transaction protocol without
# hard links — see logstore.py for the S3/GCS primitive mapping.
_STORE: LogStore = PosixLogStore()


def get_log_store() -> LogStore:
    return _STORE


def set_log_store(store: LogStore) -> LogStore:
    """Install the LogStore used by every commit in this process;
    returns the previous one (so callers can restore it)."""
    global _STORE
    prev = _STORE
    _STORE = store
    return prev


class using_log_store:
    """``with using_log_store(ConditionalPutLogStore()): ...`` —
    scoped LogStore swap for tests and embedded use."""

    def __init__(self, store: LogStore):
        self.store = store

    def __enter__(self) -> LogStore:
        self.prev = set_log_store(self.store)
        return self.store

    def __exit__(self, *exc) -> None:
        set_log_store(self.prev)


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"v{version:08d}.json")


def current_version(root: str) -> int:
    """Highest committed version, -1 if the table does not exist."""
    try:
        names = os.listdir(_log_dir(root))
    except FileNotFoundError:
        return -1
    vs = [
        int(n[1:9])
        for n in names
        if n.startswith("v") and n.endswith(".json") and len(n) == 14
    ]
    return max(vs, default=-1)


@_lru_cache(maxsize=64)
def _read_manifest_keyed(path: str, mtime_ns: int, size: int) -> dict:
    with open(path) as fh:
        return json.load(fh)


@_lru_cache(maxsize=None)
def _manifest_meta_keyed(
    path: str, mtime_ns: int, size: int
) -> tuple[float, bool, str | None, tuple[str, ...]]:
    """(commit ts, is_full, column-mapping JSON or None) for one
    immutable manifest — the few-dozen-byte subset the per-version
    driver WALKS need (version_at_timestamp, vacuum's retain-hours
    scan, _mapping_at). Parsed once per process and cached UNBOUNDED
    (tiny tuples), so a walk over hundreds of versions costs one
    parse per version EVER instead of re-parsing checkpoint-sized
    JSON each call through the bounded full-manifest cache (round-12
    ADVICE: O(versions x manifest bytes) per call at 100 TB table
    ages)."""
    m = _read_manifest_keyed(path, mtime_ns, size)
    cm = m.get("column_mapping")
    return (
        float(m.get("ts", 0)),
        "files" in m or "files_ref" in m,
        json.dumps(cm, sort_keys=True) if cm is not None else None,
        tuple(m.get("required_features", ())),
    )


def _manifest_meta(root: str, version: int) -> tuple[float, bool, str | None]:
    p = _manifest_path(root, version)
    st = os.stat(p)
    ts, full, cm, req = _manifest_meta_keyed(p, st.st_mtime_ns, st.st_size)
    # metadata walks gate too: _mapping_at resolving a mapping it does
    # not understand is the same silent-corruption class as row reads
    _check_reader_features(
        {"required_features": req}, f"v{version} of {root}"
    )
    return ts, full, cm


def _check_reader_features(m: dict, where: str) -> None:
    """Refuse to bind a snapshot whose manifest requires a format
    feature this build does not know — the loud-failure half of the
    feature-gating contract (the write half is _commit_version
    recording ``required_features``). Checked OUTSIDE the manifest
    cache so a reader downgrade (or a test shrinking the known set)
    takes effect immediately; a set difference per read is noise."""
    req = m.get("required_features")
    if req:
        unknown = sorted(set(req) - _KNOWN_READER_FEATURES)
        if unknown:
            raise RuntimeError(
                f"manifest {where} requires reader features "
                f"{unknown} this build does not support (knows "
                f"{sorted(_KNOWN_READER_FEATURES)}); reading anyway "
                "would silently corrupt results (e.g. resurrect "
                "deletion-vectored rows) — upgrade the reader"
            )


def _read_manifest(root: str, version: int) -> dict:
    """Read one manifest. Committed manifests are IMMUTABLE (published
    by an atomic link, never rewritten), so parses are cached keyed by
    (path, mtime, size) — on a 10^5-file table this turns the ~10 MB
    checkpoint parse from a per-commit cost into a once-per-process
    one (re-keyed automatically if a test rebuilds a table at the same
    path). Callers must treat the returned dict as read-only."""
    p = _manifest_path(root, version)
    st = os.stat(p)
    m = _read_manifest_keyed(p, st.st_mtime_ns, st.st_size)
    _check_reader_features(m, f"v{version} of {root}")
    return m


def _table_config(root: str) -> dict:
    """Immutable table properties, recorded once in the v0 manifest:
    partition columns and the full-manifest (checkpoint) cadence.
    Tables created by pre-round-11 writers default to unpartitioned
    with the default cadence."""
    m = _read_manifest(root, 0)
    return {
        "partition_by": list(m.get("partition_by", [])),
        "checkpoint_every": int(
            m.get("checkpoint_every", DEFAULT_CHECKPOINT_EVERY)
        ),
    }


@_lru_cache(maxsize=4)
def _read_sidecar_keyed(
    path: str, mtime_ns: int, size: int
) -> tuple[list[str], dict, dict]:
    """Parse one columnar checkpoint sidecar (immutable once written,
    like manifests — cached per process). Returns (files, stats,
    dv map); sidecars written before the dv spill (round 13) lack the
    dv_ref column and resolve to an empty map — their manifests still
    carry dv inline."""
    import pyarrow.parquet as pq

    cols = ["rel", "stats_json"]
    schema_names = pq.ParquetFile(path).schema_arrow.names
    if "dv_ref" in schema_names:
        cols.append("dv_ref")
    t = pq.read_table(path, columns=cols)
    rels = t.column("rel").to_pylist()
    stats_json = t.column("stats_json").to_pylist()
    stats = {
        r: json.loads(s) for r, s in zip(rels, stats_json) if s
    }
    dv = {}
    if "dv_ref" in schema_names:
        dv = {
            r: ref
            for r, ref in zip(rels, t.column("dv_ref").to_pylist())
            if ref
        }
    return rels, stats, dv


def _load_full(root: str, m: dict) -> tuple[list[str], dict]:
    """A full manifest's (files, stats) — inline JSON for small
    tables, the parquet sidecar above SIDECAR_MIN_FILES."""
    if "files" in m:
        return m["files"], m.get("stats", {})
    p = os.path.join(_log_dir(root), m["files_ref"])
    st = os.stat(p)
    return _read_sidecar_keyed(p, st.st_mtime_ns, st.st_size)[:2]


def _full_dv(root: str, m: dict) -> dict:
    """The deletion-vector map {rel -> dv sidecar ref} of ONE
    manifest: inline for small tables and all delta manifests, the
    checkpoint sidecar's dv_ref column when the file list spilled
    (round-12 ADVICE: inlining the complete dv map as JSON in a
    checkpoint whose FILES already outgrew inline JSON defeated the
    sidecar threshold's intent)."""
    if "files_ref" in m and "dv" not in m:
        p = os.path.join(_log_dir(root), m["files_ref"])
        st = os.stat(p)
        return _read_sidecar_keyed(p, st.st_mtime_ns, st.st_size)[2]
    return m.get("dv", {})


def _is_full(m: dict) -> bool:
    return "files" in m or "files_ref" in m


def _write_sidecar(
    root: str, files: list[str], stats: dict, dv: dict | None = None
) -> str:
    """Write a columnar checkpoint sidecar under the log dir; returns
    its log-relative name. Carries the dv map as a per-file ref
    column so a checkpoint whose file list outgrew inline JSON never
    re-inlines its deletion vectors either. Written + fsynced BEFORE
    the manifest link publishes it — a crash or a lost commit race
    leaves an orphan that vacuum sweeps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_log_dir(root), exist_ok=True)
    name = f".ckpt-{uuid.uuid4().hex[:12]}.parquet"
    path = os.path.join(_log_dir(root), name)
    dv = dv or {}
    t = pa.table(
        {
            "rel": files,
            "stats_json": [
                json.dumps(stats[r]) if r in stats else None for r in files
            ],
            "dv_ref": [dv.get(r) for r in files],
        }
    )
    pq.write_table(t, path)
    _STORE.fsync_file(path)
    return name


def snapshot_info(root: str, version: int) -> dict:
    """Resolve one snapshot's {files, stats, dv} by walking back to
    the nearest FULL manifest (create/restore/optimize/checkpoint — at
    most ``checkpoint_every`` hops) and replaying the delta
    add/remove/dv actions forward. This is the Delta
    checkpoint-plus-log resolution: O(checkpoint cadence) manifest
    reads regardless of table age, O(current files) memory. ``dv``
    maps file rel -> deletion-vector sidecar ref (round-12
    merge-on-read deletes); a file's newest dv ref is CUMULATIVE (the
    full surviving index list), so replay just takes the latest."""
    chain: list[dict] = []
    v = version
    while True:
        m = _read_manifest(root, v)
        chain.append(m)
        if _is_full(m):
            break
        v -= 1
        if v < 0:
            raise FileNotFoundError(
                f"no full manifest at or below v{version} in {root}"
            )
    base_files, base_stats = _load_full(root, chain[-1])
    files = list(base_files)
    stats = dict(base_stats)
    dv = dict(_full_dv(root, chain[-1]))
    for m in reversed(chain[:-1]):
        rm = set(m.get("remove", []))
        if rm:
            files = [f for f in files if f not in rm]
            for f in rm:
                stats.pop(f, None)
                dv.pop(f, None)
        files += m.get("add", [])
        stats.update(m.get("add_stats", {}))
        dv.update(m.get("dv", {}))
    return {"files": files, "stats": stats, "dv": dv}


def _schema_json_at(root: str, version: int) -> str:
    """The schema json recorded at or before ``version``: every full
    manifest (v0 included) and every evolution commit records one, so
    the walk is bounded by the checkpoint cadence. A table without one
    is outside the format and every reader rejects it here."""
    for v in range(version, -1, -1):
        m = _read_manifest(root, v)
        if "schema" in m:
            return m["schema"]
    raise ValueError(
        f"txlog table at {root} predates schema recording: no manifest "
        f"at or before v{version} records a schema"
    )


def _snapshot_schema(root: str, version: int) -> StructType:
    """The table schema AT a version — the reader's schema binding for
    both current reads and time travel across an evolution. Read from
    the manifests alone."""
    return StructType.fromJson(json.loads(_schema_json_at(root, version)))


def _hive_path_value(x) -> str | None:
    """Map a Python filter value to the string Spark's hive-style
    partition writer puts in the PATH (``escapePathName(cast(v as
    string))``), so :func:`_prune_partitions` compares like with like.
    Python ``str()`` disagrees with Spark for several types (bool True
    vs ``true``; datetime reprs), and a mismatched encoding would
    silently prune EVERY matching file — the residual filter cannot
    recover rows whose files were dropped at planning time — so any
    type whose path form we cannot reproduce exactly is a LOUD error
    telling the caller to pass the path string itself (round-12
    ADVICE)."""
    import datetime

    if x is None:
        return None
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, str):
        return x
    if isinstance(x, int):
        return str(x)
    if isinstance(x, float):
        # In the plain-decimal range (1e-3 <= |x| < 1e7, where Java's
        # Double.toString — Spark's cast-to-string — avoids scientific
        # notation) Python repr produces the same shortest round-trip
        # decimal string, so float partition filters prune correctly
        # (round-12 ADVICE: the blanket raise regressed working float
        # pruning). Outside it the two notations diverge ('1e+20' vs
        # '1.0E20') and non-finite values have no stable path form —
        # those stay a LOUD error.
        if x == 0.0 or (x == x and 1e-3 <= abs(x) < 1e7):
            return repr(x)
        raise ValueError(
            f"cannot derive the hive path form of float {x!r} "
            "(scientific-notation/non-finite forms differ between "
            "Python and Spark): pass the exact partition-directory "
            "string instead"
        )
    if isinstance(x, datetime.datetime):
        raise ValueError(
            f"cannot derive the hive path form of timestamp {x!r} "
            "(Spark's cast-to-string format is session-dependent): "
            "pass the exact partition-directory string instead"
        )
    if isinstance(x, datetime.date):
        return x.isoformat()
    raise ValueError(
        f"cannot derive the hive path form of {type(x).__name__} value "
        f"{x!r}: pass the exact string Spark wrote in the partition "
        "path (silent mis-encoding would prune matching files)"
    )


def _mapping_at(root: str, version: int) -> dict | None:
    """The column mapping in force AT a version (round-12 rename/drop
    without rewrite — Delta's column-mapping design): None until the
    first rename/drop activates it, afterwards
    ``{"map": {logical -> physical}, "retired": [physical, ...]}``.
    Only NON-identity entries live in ``map`` (an unmapped logical
    name IS its physical name); ``retired`` lists physical names that
    once carried a since-dropped column — a later re-ADD of the same
    logical name must take a FRESH physical name so the old files'
    values can never resurrect. Physical names are immutable for a
    file's lifetime, which is the whole trick: rename/drop are
    manifest-only commits, zero data files touched.

    Recorded on the commit that changes it and on every full manifest
    while active, so this walk is bounded by the checkpoint cadence
    (a full manifest WITHOUT the key means the mapping was never
    activated)."""
    for v in range(version, -1, -1):
        _ts, is_full, cm_json = _manifest_meta(root, v)
        if cm_json is not None:
            cm = json.loads(cm_json)
            return {
                "map": dict(cm.get("map", {})),
                "retired": list(cm.get("retired", [])),
            }
        if is_full:
            return None
    return None


def _phys_name(mapping: dict | None, logical: str) -> str:
    if mapping is None:
        return logical
    return mapping["map"].get(logical, logical)


def _phys_schema(schema, mapping: dict | None):
    """The PHYSICAL StructType a logical snapshot schema binds to in
    the parquet files (identical when no mapping is active — the
    zero-overhead common case)."""
    if mapping is None or not mapping["map"]:
        return schema
    return StructType(
        [
            StructField(_phys_name(mapping, f.name), f.dataType, True)
            for f in schema.fields
        ]
    )


def _logical_select(schema, mapping: dict | None):
    """Projection list physical -> logical for a mapped read."""
    return [
        F.col(_phys_name(mapping, f.name)).alias(f.name)
        for f in schema.fields
    ]


def partition_values(rel: str) -> dict[str, str | None]:
    """Per-file partition values, parsed from the hive-style path
    components (``data/month=2024-01/part-...``) — the manifest's
    partition record without manifest bytes. Values are the writer's
    path-encoded strings; the hive NULL sentinel maps to None."""
    out: dict[str, str | None] = {}
    for comp in rel.split("/")[1:-1]:
        if "=" in comp:
            k, _, v = comp.partition("=")
            out[k] = None if v == _HIVE_NULL else unquote(v)
    return out


def _prune_partitions(
    root: str, rels: list[str], partitions: dict
) -> list[str]:
    """Driver-side partition pruning: keep only files whose path-level
    partition values match the requested {col: value-or-list} filter.
    Values are compared in Spark's own hive path encoding
    (:func:`_hive_path_value` — NOT Python ``str()``, whose bool/date
    forms differ and would silently prune matching files); requesting
    a non-partition column is a loud error — stats/data filters handle
    those."""
    pby = set(_table_config(root)["partition_by"])
    bad = [k for k in partitions if k not in pby]
    if bad:
        raise ValueError(
            f"{bad} are not partition columns (partition_by={sorted(pby)})"
        )
    want: dict[str, set] = {}
    for k, v in partitions.items():
        vals = v if isinstance(v, (list, tuple, set)) else [v]
        want[k] = {_hive_path_value(x) for x in vals}
    keep = []
    for rel in rels:
        pv = partition_values(rel)
        if all(k in pv and pv[k] in vs for k, vs in want.items()):
            keep.append(rel)
    return keep


def _partition_residual(partitions: dict):
    """The in-plan residual of a partition filter (exactness guard on
    top of the path-string pruning)."""
    cond = None
    for k, v in partitions.items():
        vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
        nn = [x for x in vals if x is not None]
        c = F.col(k).isin(nn) if nn else F.lit(False)
        if any(x is None for x in vals):
            c = c | F.col(k).isNull()
        cond = c if cond is None else cond & c
    return cond


def _collect_stats(root: str, rels: list[str]) -> dict[str, dict]:
    """Per-file column min/max from the parquet footers, for the
    manifest (the Iceberg manifest-stats idea): one local metadata
    read per newly staged file, no data scanned. Only JSON-plain
    values (int/float/str) are kept — a column absent from a file's
    stats map simply can't prune that file, never a correctness
    issue. Each file's ROW COUNT rides along under the reserved
    ``#rows`` key ('#' cannot start a parquet field name written by
    this engine's aligned frames), which is what lets
    :func:`row_count` answer COUNT(*) from metadata alone — the Delta
    metadata-only-query optimization."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in rels:
        md = pq.read_metadata(os.path.join(root, rel))
        rows_entry = {"#rows": int(md.num_rows)}
        names = md.schema.names
        per_col: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                try:
                    st = row_group.column(ci).statistics
                    mn, mx = (
                        (st.min, st.max)
                        if st is not None and st.has_min_max
                        else (None, None)
                    )
                except Exception:  # pyarrow: "Cannot extract statistics
                    mn = mx = None  # for type" (e.g. wide decimals)
                if mn is None or mx is None:
                    per_col[names[ci]] = None  # unusable for this file
                    continue
                if not all(isinstance(v, (int, float, str)) for v in (mn, mx)):
                    per_col[names[ci]] = None
                    continue
                cur = per_col.get(names[ci])
                if cur is None and names[ci] in per_col:
                    continue  # already marked unusable
                per_col[names[ci]] = (
                    [mn, mx]
                    if cur is None
                    else [min(cur[0], mn), max(cur[1], mx)]
                )
        out[rel] = {
            **rows_entry,
            **{c: v for c, v in per_col.items() if v is not None},
        }
    return out


def row_count(root: str, version: int | None = None) -> int | None:
    """COUNT(*) from metadata alone (the Delta metadata-only-query
    optimization): sum of the per-file ``#rows`` recorded at commit
    time — zero data IO, zero Spark jobs, O(files) driver arithmetic
    on the resolved snapshot. Returns None when any file predates the
    row-count recording (legacy tables): the caller falls back to a
    real count, never a wrong one."""
    v = current_version(root) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version at {root}")
    snap = snapshot_info(root, v)
    total = 0
    for rel in snap["files"]:
        n = snap["stats"].get(rel, {}).get("#rows")
        if n is None:
            return None
        total += int(n)
    # merge-on-read deletes: a file's deletion vector hides rows the
    # '#rows' footer count still includes — subtract them (O(dv
    # sidecars) driver reads, still zero data IO / zero Spark jobs)
    for _rel, idx in _dv_indexes(root, snap.get("dv", {})).items():
        total -= len(idx)
    return total


def _cast_is_lossless(src, dst) -> bool:
    """Write-side cast whitelist: identical types, NULL literals, a
    strict numeric widening, or a decimal that gains both precision
    and scale headroom. Everything else (string->long, double->long,
    long->int, ...) is a lossy/nulling cast and must be rejected."""
    from pyspark.sql.types import DecimalType, NullType

    if src == dst or isinstance(src, NullType):
        return True
    widen = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("byte", "double"), ("short", "double"), ("integer", "double"),
        ("float", "double"),
    }
    if (src.typeName(), dst.typeName()) in widen:
        return True
    if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
    return False


def _merge_struct(table_schema, incoming_schema, merge_schema: bool):
    """Schema reconciliation on write (the Delta contract). Returns the
    EVOLVED StructType when the commit must record a new schema, else
    None (incoming fits the table as-is, possibly via lossless
    up-casts). With ``merge_schema``: new columns widen the table, and
    an existing column whose incoming type the table's widens to
    LOSSLESSLY (int->long, float->double, decimal growth) widens the
    column — Delta/Iceberg ALTER COLUMN TYPE semantics. Missing
    columns NULL-fill. Without it, any column-set difference is a loud
    error. Either way, a cast that would lose data is rejected — the
    ANSI store-assignment rule: incompatible writes FAIL, never
    corrupt."""
    inc = {f.name: f for f in incoming_schema.fields}
    want = [f.name for f in table_schema.fields]
    extra = [f for f in incoming_schema.fields if f.name not in set(want)]
    missing = [n for n in want if n not in inc]
    if not merge_schema and (extra or missing):
        raise ValueError(
            f"schema mismatch: table has {want}, incoming has "
            f"{sorted(inc)} (pass merge_schema=True to evolve)"
        )
    out_fields = []
    changed = False
    for f in table_schema.fields:
        g = inc.get(f.name)
        if g is None or _cast_is_lossless(g.dataType, f.dataType):
            out_fields.append(f)
        elif merge_schema and _cast_is_lossless(f.dataType, g.dataType):
            out_fields.append(StructField(f.name, g.dataType, True))
            changed = True  # type widening evolution
        else:
            raise ValueError(
                f"unsafe cast for column {f.name!r}: incoming "
                f"{g.dataType.simpleString()} does not widen losslessly "
                f"to the table's {f.dataType.simpleString()} (nor the "
                "reverse)"
            )
    if extra:
        out_fields += [StructField(f.name, f.dataType, True) for f in extra]
        changed = True
    return StructType(out_fields) if changed else None


def _align_df(df: DataFrame, target) -> DataFrame:
    """Project df to the target schema: cast column-by-name (lossless
    by _merge_struct's contract), typed NULLs for columns the frame
    lacks — so every data file carries write-compatible parquet
    physical types."""
    have = set(df.columns)
    return df.select(
        [
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in target.fields
        ]
    )


def _relabel_for_out(
    df: DataFrame, sch_from, mp_from: dict | None, out_schema, mp_out
) -> DataFrame:
    """Rename a change-feed chunk's columns from one era's LOGICAL
    names to the output era's, matching by PHYSICAL identity: a
    renamed column is the SAME column across the feed (physical names
    never change), so a pre-rename commit's rows surface under the
    post-rename name instead of as NULLs. Columns whose physical name
    left the output schema (drops) pass through untouched and are
    projected away by the _align_df that follows."""
    if mp_from is None and mp_out is None:
        return df
    phys_out = {
        _phys_name(mp_out, f.name): f.name for f in out_schema.fields
    }
    cols = []
    for f in sch_from.fields:
        p = _phys_name(mp_from, f.name)
        tgt = phys_out.get(p, f.name)
        cols.append(F.col(f.name).alias(tgt) if tgt != f.name else F.col(f.name))
    return df.select(cols)


def _optimized_repartition(
    df: DataFrame,
    partition_by: tuple[str, ...] | list[str],
    target_file_bytes: int,
) -> DataFrame:
    """Delta's 'optimized write' shuffle: repartition the frame so
    each write task produces ~target-size parquet files INSTEAD of
    whatever the upstream task layout happens to be — the at-write
    answer to small files (a high-frequency ingest otherwise leans on
    OPTIMIZE cadence to repair 10^4 tiny appends; at 100 TB the
    repair job is the cost you wanted to avoid). Partitioned tables
    hash on the partition columns, so one task holds whole hive
    directories and the per-dir file count collapses from
    tasks x dirs to ~1 x dirs. Sizing uses Catalyst's optimizedPlan
    sizeInBytes — an estimate (decompressed for scans, a sentinel for
    stat-less plans), so the clamp matters more than the point value:
    n stays within [1, 4x current partitions], and an unknown-stats
    sentinel (>= 2^60) skips the shuffle entirely rather than
    repartitioning to a garbage count. Opt-in (one extra shuffle)."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if est <= 0 or est >= 1 << 60:
        return df
    n = max(1, min((est + target_file_bytes - 1) // target_file_bytes,
                   max(cur, 1) * 4))
    cols = [F.col(c) for c in partition_by]
    return df.repartition(int(n), *cols) if cols else df.repartition(int(n))


def _stage_files(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_by: tuple[str, ...] | list[str] = (),
    mapping: dict | None = None,
) -> list[str]:
    """Write df's rows as new uniquely-named parquet files under
    data/ (hive-partitioned subdirs when the table is partitioned);
    returns their table-relative paths. Staged files are invisible
    until a manifest references them. Final names carry a per-staging
    uuid + counter so basenames are unique table-wide (the merge /
    delete probes match victims by basename).

    ``#``-prefixed column names are rejected at this write boundary:
    the manifest's per-file stats map stores each file's row count
    under the reserved ``#rows`` key in the same namespace as column
    min/max entries, so a real column named ``#rows`` would corrupt
    :func:`row_count` and the merge/scan pruning maps (round-12
    ADVICE)."""
    bad = [c for c in df.columns if c.startswith("#")]
    if bad:
        raise ValueError(
            f"column names starting with '#' are reserved for manifest "
            f"metadata (the per-file '#rows' stat): {bad}"
        )
    if mapping is not None and mapping["map"]:
        # active column mapping: files store PHYSICAL names, so a
        # renamed column's new files join the old ones seamlessly
        df = df.select(
            [
                F.col(c).alias(_phys_name(mapping, c))
                for c in df.columns
            ]
        )
    stage_tag = uuid.uuid4().hex[:12]
    stage_dir = os.path.join(root, _DATA, f".stage-{stage_tag}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)
    out = []
    i = 0
    for dirpath, _dirs, names in sorted(os.walk(stage_dir)):
        sub = os.path.relpath(dirpath, stage_dir)
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            dest_dir = (
                os.path.join(root, _DATA)
                if sub == "."
                else os.path.join(root, _DATA, sub)
            )
            os.makedirs(dest_dir, exist_ok=True)
            final = f"part-{stage_tag}-{i:05d}.parquet"
            i += 1
            os.rename(
                os.path.join(dirpath, name), os.path.join(dest_dir, final)
            )
            rel_sub = "" if sub == "." else f"{sub}/"
            out.append(f"{_DATA}/{rel_sub}{final}")
    shutil.rmtree(stage_dir, ignore_errors=True)
    return out


def _fsync_dir(path: str) -> None:
    _STORE.fsync_dir(path)


def _try_commit(root: str, version: int, manifest: dict) -> bool:
    """The atomic commit point. Returns False when another writer
    claimed this version first.

    The manifest's CONTENT must appear atomically with the claim — no
    reader may ever see a torn or empty manifest at the highest
    version. That primitive is the LogStore's ``put_if_absent``
    (POSIX: temp write + fsync + hard link, with the vacuum-swept-temp
    retry; object stores: conditional PUT — see logstore.py). One
    hardening rule lives HERE, above the store: once put_if_absent
    returns True the version is published, so any later error (the
    best-effort log-directory durability barrier) is swallowed —
    propagating it would make an (app_id, txn_version)-less caller
    retry and double-commit at N+1 (round-11 ADVICE)."""
    log_dir = _log_dir(root)
    os.makedirs(log_dir, exist_ok=True)
    ok = _STORE.put_if_absent(
        _manifest_path(root, version), json.dumps(manifest).encode()
    )
    if not ok:
        return False
    try:
        # durability, not atomicity: make the published dir entry
        # survive power loss. Best-effort — the version IS committed
        # once the claim lands.
        _fsync_dir(log_dir)
    except OSError:
        pass
    return True


@dataclass
class _Commit:
    """What one commit publishes on top of its parent snapshot: the
    files it removes, the files it adds with their footer stats, a new
    schema json (None inherits the parent's), extra manifest fields,
    and the deletion vectors that CHANGED — ``dv_rows`` as new
    cumulative {rel -> row indexes} (written as one sidecar right
    before the claim), ``dv_set`` as existing sidecar refs (restore
    re-pins its target's). Removing a file implicitly drops its DV."""

    removed: list[str] = field(default_factory=list)
    added: list[str] = field(default_factory=list)
    add_stats: dict = field(default_factory=dict)
    schema_json: str | None = None
    extra: dict = field(default_factory=dict)
    dv_rows: dict[str, list[int]] = field(default_factory=dict)
    dv_set: dict[str, str] = field(default_factory=dict)


def _commit_version(
    root: str, v_new: int, op: str, psnap: dict, txn: dict, c: _Commit
) -> bool:
    """Build + atomically publish version ``v_new`` = ``psnap`` + ``c``.
    Writes a DELTA manifest (add/remove actions, O(touched files)
    bytes) unless this version is a checkpoint (v % checkpoint_every
    == 0) or the op resets the file list wholesale
    (create/restore/optimize) — then a FULL manifest with the complete
    file list, stats, and schema, so snapshot resolution never replays
    more than one checkpoint interval."""
    added, add_stats, extra = c.added, c.add_stats, c.extra
    dv_set = dict(c.dv_set)
    if c.dv_rows:
        ref = _write_dv(root, c.dv_rows)
        dv_set.update({rel: ref for rel in c.dv_rows})
    rm = set(c.removed)
    keep = [f for f in psnap["files"] if f not in rm]
    files = keep + added
    ce = (
        int(extra.get("checkpoint_every", DEFAULT_CHECKPOINT_EVERY))
        if op == "create"
        else _table_config(root)["checkpoint_every"]
    )
    # reader-feature set: STICKY from the parent (a feature once
    # required stays required — Delta's readerFeatures monotonicity),
    # plus whatever THIS commit first uses. Tables written before the
    # gate existed carry no list and keep reading (.get defaults).
    feats: set[str] = (
        set(_read_manifest(root, v_new - 1).get("required_features", []))
        if v_new > 0
        else set()
    )
    pby = (
        extra.get("partition_by")
        if op == "create"
        else _table_config(root)["partition_by"]
    )
    if pby:
        feats.add("partitioning")
    if op == "overwrite":
        feats.add("overwrite")
    if dv_set or psnap.get("dv"):
        feats.add("deletion_vectors")
    if extra.get("column_mapping") or (
        v_new > 0 and _mapping_at(root, v_new - 1) is not None
    ):
        feats.add("column_mapping")
    m: dict = {
        "version": v_new,
        "op": op,
        "parent": None if v_new == 0 else v_new - 1,
        "txn": txn,
        "n_files": len(files),
        "ts": time.time(),
        **extra,
    }
    # CHECK constraints carry cumulatively like the txn map, unless
    # this commit explicitly sets them (add/drop_constraint)
    if "constraints" not in m and v_new > 0:
        parent_cons = _read_manifest(root, v_new - 1).get("constraints")
        if parent_cons:
            m["constraints"] = dict(parent_cons)
    if not m.get("constraints"):
        m.pop("constraints", None)
    if c.schema_json is not None:
        m["schema"] = c.schema_json
    full = (
        op in ("create", "restore", "optimize", "overwrite")
        or v_new % ce == 0
    )
    if full:
        keep_set = set(keep)
        stats = {r: s for r, s in psnap["stats"].items() if r in keep_set}
        stats.update(add_stats)
        # complete dv map: parent entries on surviving files, plus
        # this commit's changes, restricted to the final file list
        file_set = set(files)
        dv_full = {
            r: ref
            for r, ref in psnap.get("dv", {}).items()
            if r in keep_set
        }
        dv_full.update(dv_set)
        dv_full = {r: ref for r, ref in dv_full.items() if r in file_set}
        if len(files) >= SIDECAR_MIN_FILES:
            # the dv map spills WITH the file list (one row each):
            # readers resolve it via _full_dv, never a giant inline
            m["files_ref"] = _write_sidecar(root, files, stats, dv_full)
        else:
            m["files"] = files
            m["stats"] = stats
            if dv_full:
                m["dv"] = dv_full
        if "schema" not in m:
            m["schema"] = _schema_json_at(root, v_new - 1)
        # an ACTIVE column mapping must appear on every full manifest
        # (bounds _mapping_at's walk); restore pins the TARGET's
        # mapping via extra instead (possibly none — a rename rolled
        # back), so inheriting the parent's would be wrong there
        if "column_mapping" not in m and op not in ("create", "restore"):
            mp = _mapping_at(root, v_new - 1) if v_new > 0 else None
            if mp is not None:
                m["column_mapping"] = mp
        if op not in ("create",) and v_new % ce == 0:
            m["checkpoint"] = True
    else:
        m["add"] = added
        m["remove"] = sorted(rm)
        m["add_stats"] = add_stats
        if dv_set:
            m["dv"] = dict(dv_set)
    if "files_ref" in m:
        feats.add("file_sidecar")
    if m.get("column_mapping"):
        feats.add("column_mapping")
    if feats:
        m["required_features"] = sorted(feats)
    return _try_commit(root, v_new, m)


def create_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_by: tuple[str, ...] | list[str] = (),
    checkpoint_every: int = DEFAULT_CHECKPOINT_EVERY,
) -> int:
    """Create version 0 from df. Fails if the table exists.
    ``partition_by`` fixes hive-style partition columns for the
    table's lifetime; ``checkpoint_every`` fixes the full-manifest
    cadence (deltas in between)."""
    if current_version(root) >= 0:
        raise FileExistsError(f"txlog table already exists at {root}")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns {missing} not in {df.columns}")
    os.makedirs(os.path.join(root, _DATA), exist_ok=True)
    files = _stage_files(spark, root, df, partition_by=partition_by)
    ok = _commit_version(
        root,
        0,
        "create",
        {"files": [], "stats": {}},
        {},
        _Commit(
            added=files,
            add_stats=_collect_stats(root, files),
            # schema travels in the log so a zero-file snapshot (empty
            # create, or a delete that empties the table) reads back as
            # a TYPED empty frame with no parquet footer to lean on
            schema_json=df.schema.json(),
            extra={
                **({"partition_by": list(partition_by)} if partition_by else {}),
                "checkpoint_every": int(checkpoint_every),
            },
        ),
    )
    if not ok:
        raise FileExistsError(f"concurrent create at {root}")
    return 0


def _read_raw(
    spark: SparkSession, root: str, rels: list[str], schema
) -> DataFrame:
    """Read an explicit file list with hive partition recovery:
    basePath anchors the partition directories so ``data/month=X/...``
    files surface their ``month`` column (a flat table is unaffected —
    no partition dirs, no inferred columns). The read binds to
    ``schema`` directly — Spark 4's parquet readers promote narrow
    file types to the requested wider ones (int->long, float->double,
    decimal growth) and surface typed NULLs for absent columns, and
    no footer-merge job runs at all."""
    return (
        spark.read.option("basePath", os.path.join(root, _DATA))
        .schema(schema)
        .parquet(*[os.path.join(root, f) for f in rels])
    )


def _read_files(
    spark: SparkSession, root: str, rels: list[str], schema, mapping=None
) -> DataFrame:
    """Read a manifest file list bound to a snapshot schema: files
    written before an evolution lack the later columns (typed NULLs)
    or carry pre-widening narrow types (promoted on read) — the
    requested-schema parquet read handles both without a footer-merge
    job. With an active column ``mapping`` the read binds the
    PHYSICAL names and aliases back to the logical ones (rename/drop
    are manifest-only; the files never change)."""
    if not rels:
        # .limit(0) turns the python-RDD-backed empty frame into an
        # empty LocalRelation (OptimizeLimitZero), which
        # PropagateEmptyRelation can then DELETE from any Union/join
        # it lands in — an ExistingRDD's cardinality is unknown to the
        # optimizer, so without this every empty CDF side stays in the
        # executed plan as a real scan branch (round 15; dv_cdf_orders
        # carried three such branches).
        return spark.createDataFrame([], schema).limit(0)
    return _read_raw(spark, root, rels, _phys_schema(schema, mapping)).select(
        _logical_select(schema, mapping)
    )


# hidden join-key column names for the DV anti-join; double-underscore
# wrapped so they can never collide with a real table column that the
# '#'-reservation doesn't already exclude
_DV_FILE = "__dv_file__"
_DV_POS = "__dv_pos__"


def _write_dv(root: str, dv_rows: dict[str, list[int]]) -> str:
    """Write one deletion-vector sidecar under the log dir: JSON
    {file rel -> sorted CUMULATIVE deleted row indexes}. One sidecar
    per commit regardless of how many files it touches; returns its
    log-relative name. Like checkpoint sidecars it is written before
    the manifest link publishes it — a lost race leaves an orphan the
    vacuum sweeps. JSON int lists are the simplicity-first encoding
    for the point-delete workload this path serves (GDPR forget:
    KB-scale vectors); a roaring-bitmap upgrade slots in here without
    touching the protocol. BOUND: each touched file's entry is its
    cumulative vector, so repeated deletes against one file grow a
    commit's sidecar up to O(rows deleted in that file) — capped by
    rows-per-file (~1M for 128 MB files) and reset to zero by every
    OPTIMIZE; delta-encoding would trade that for a chain walk on
    read (round-12 ADVICE, accepted as documented)."""
    os.makedirs(_log_dir(root), exist_ok=True)
    name = f".dv-{uuid.uuid4().hex[:12]}.json"
    path = os.path.join(_log_dir(root), name)
    with open(path, "w") as fh:
        json.dump(
            {rel: sorted(int(i) for i in idx) for rel, idx in dv_rows.items()},
            fh,
        )
        fh.flush()
    _STORE.fsync_file(path)
    return name


@_lru_cache(maxsize=32)
def _load_dv_keyed(path: str, mtime_ns: int, size: int) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _dv_indexes(
    root: str, dv_map: dict[str, str], rels: list[str] | None = None
) -> dict[str, list[int]]:
    """Resolve {rel -> deleted row indexes} from a snapshot's dv
    {rel -> sidecar ref} map (optionally restricted to ``rels``).
    Sidecars are immutable once published — cached per process like
    manifests."""
    out: dict[str, list[int]] = {}
    want = set(rels) if rels is not None else None
    for rel, ref in dv_map.items():
        if want is not None and rel not in want:
            continue
        p = os.path.join(_log_dir(root), ref)
        st = os.stat(p)
        payload = _load_dv_keyed(p, st.st_mtime_ns, st.st_size)
        idx = payload.get(rel)
        if idx:
            out[rel] = idx
    return out


def _arrow_table(schema, columns: list[list] | None = None):
    """An Arrow table of ``schema``, one value list per field (None:
    zero rows)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    if columns is None:
        return arrow.empty_table()
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )


def _arrow_df(
    spark: SparkSession, schema, columns: list[list] | None = None
) -> DataFrame:
    """A driver-side frame built from :func:`_arrow_table`. Spark plans
    an Arrow-built frame as a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) and as a JVM-decoded Arrow RDD above it; neither runs a
    Python worker. A list-built frame is a pickled-RDD scan (``Scan
    ExistingRDD``) that launches a Python-worker job on every
    execution."""
    return spark.createDataFrame(_arrow_table(schema, columns), schema)


_DV_PAIRS_SCHEMA = StructType(
    [
        StructField(_DV_FILE, StringType(), False),
        StructField(_DV_POS, LongType(), False),
    ]
)


def _dv_pairs_df(spark: SparkSession, dv_idx: dict[str, list[int]]):
    """The (file basename, row index) victim pairs as a small
    DataFrame for the broadcast anti-join. Size is O(deleted rows
    under DV) — bounded by construction: merge-on-read serves point
    deletes, and OPTIMIZE materializes vectors back to zero. Built
    from Arrow, so it plans as a ``LocalRelation`` (see
    :func:`_arrow_df`): every DV read, probe and change-feed diff
    joins against it, and none of them pays a Python-worker job for
    it."""
    files: list[str] = []
    pos: list[int] = []
    for rel, idx in dv_idx.items():
        files += [os.path.basename(rel)] * len(idx)
        pos += idx
    return _arrow_df(spark, _DV_PAIRS_SCHEMA, [files, pos])


def _live_with_pos(
    spark: SparkSession,
    root: str,
    rels: list[str],
    schema,
    dv_idx: dict[str, list[int]],
    mapping=None,
) -> DataFrame:
    """The LIVE rows of a file list — DV-deleted rows anti-joined out
    — with the file basename and in-file row position attached as
    ``_DV_FILE``/``_DV_POS``. The position comes from the parquet
    reader's ``_metadata.row_index`` (stable per file, split-safe),
    which is what makes a deletion vector addressable without any
    physical row id column. The victim side broadcasts: O(DV rows),
    never O(table)."""
    raw = _read_raw(
        spark, root, rels, _phys_schema(schema, mapping)
    ).select(
        *_logical_select(schema, mapping),
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias(_DV_FILE),
        F.col("_metadata.row_index").alias(_DV_POS),
    )
    live = {rel: idx for rel, idx in dv_idx.items() if rel in set(rels)}
    if not live:
        return raw
    return raw.join(
        F.broadcast(_dv_pairs_df(spark, live)),
        [_DV_FILE, _DV_POS],
        "left_anti",
    )


def _rows_at_positions(
    spark: SparkSession,
    root: str,
    pos_map: dict[str, list[int]],
    schema,
    mapping=None,
) -> DataFrame:
    """The rows of the given files AT the given in-file positions —
    the content of a deletion-vector diff, for the change feed
    (semi-join twin of :func:`_live_with_pos`'s anti-join; same
    broadcast pair frame, O(positions))."""
    rels = [r for r in pos_map if pos_map[r]]
    if not rels:
        # empty LocalRelation form — see _read_files' comment
        return spark.createDataFrame([], schema).limit(0)
    raw = _read_raw(
        spark, root, rels, _phys_schema(schema, mapping)
    ).select(
        *_logical_select(schema, mapping),
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias(_DV_FILE),
        F.col("_metadata.row_index").alias(_DV_POS),
    )
    return raw.join(
        F.broadcast(_dv_pairs_df(spark, pos_map)),
        [_DV_FILE, _DV_POS],
        "left_semi",
    ).select([F.col(f.name) for f in schema.fields])


def _read_files_dv(
    spark: SparkSession,
    root: str,
    rels: list[str],
    schema,
    dv_idx: dict[str, list[int]],
    mapping=None,
) -> DataFrame:
    """DV-aware snapshot read: files without a deletion vector take
    the plain schema-bound path (zero overhead — the hot path at
    steady state, when OPTIMIZE has materialized); files WITH one are
    read with row positions and their deleted rows anti-joined out
    against the broadcast victim pairs."""
    dv_rels = [r for r in rels if dv_idx.get(r)]
    clean = [r for r in rels if not dv_idx.get(r)]
    base = _read_files(spark, root, clean, schema, mapping)
    if not dv_rels:
        return base
    live = _live_with_pos(
        spark, root, dv_rels, schema, dv_idx, mapping
    ).select([F.col(f.name) for f in schema.fields])
    return base.unionByName(live) if clean else live


def version_at_timestamp(root: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution (the Delta form): the newest version
    whose commit timestamp is <= ``ts`` (unix seconds). Loud error for
    a timestamp before the table existed. O(versions) driver walk over
    cached manifests — commit timestamps are not guaranteed monotone
    under clock skew, so the walk takes the max matching version, the
    same contract Delta documents."""
    cur = current_version(root)
    if cur < 0:
        raise FileNotFoundError(f"no committed version at {root}")
    best = -1
    for v in range(cur + 1):
        if _manifest_meta(root, v)[0] <= ts:
            best = v
    if best < 0:
        raise ValueError(
            f"timestamp {ts} predates the table's first commit "
            f"(v0 at {_read_manifest(root, 0).get('ts')})"
        )
    return best


def read_table(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partitions: dict | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Snapshot read: exactly the file list of one committed version
    (the latest unless ``version`` pins VERSION AS OF time travel or
    ``timestamp`` pins TIMESTAMP AS OF — mutually exclusive),
    projected to the schema AS OF that version.
    ``partitions={"month": ["2024-01", ...]}`` prunes untouched hive
    partitions at planning time from the manifest's file paths — the
    files are eliminated before any listing or footer IO — with the
    residual filter kept in the plan for exactness."""
    if version is not None and timestamp is not None:
        raise ValueError("pass version or timestamp, not both")
    if timestamp is not None:
        version = version_at_timestamp(root, timestamp)
    v = current_version(root) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version at {root}")
    snap = snapshot_info(root, v)
    rels = snap["files"]
    if partitions:
        rels = _prune_partitions(root, rels, partitions)
    dv_idx = _dv_indexes(root, snap.get("dv", {}), rels)
    out = _read_files_dv(
        spark,
        root,
        rels,
        _snapshot_schema(root, v),
        dv_idx,
        _mapping_at(root, v),
    )
    if partitions:
        out = out.where(_partition_residual(partitions))
    return out


def scan_table(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Key-range snapshot read pruned by MANIFEST stats (the read-side
    twin of merge's probe prefilter): only files whose recorded
    [min, max] for ``col`` overlaps [lo, hi] reach the reader at all —
    the rest are eliminated at PLANNING time from driver-side
    metadata, before any footer IO. Parquet's own row-group pruning
    then applies inside the surviving files (the residual range filter
    stays in the plan, so results are exact regardless of stats
    coverage: a file with no recorded stats for ``col`` is read and
    filtered, never skipped).

    At 10^5 files this is the difference between "list, open, and
    footer-read every file to discover 99% are irrelevant" and "open
    the handful a clustered layout puts the range in" — Iceberg's
    manifest-level scan planning. Pairs with optimize(cluster_by=col)
    / optimize(zorder_by=...), which is what makes the per-file
    ranges narrow. A PARTITION column (absent from footers) prunes by
    its hive path value instead — numeric compare when the bounds are
    numeric, lexicographic otherwise (exact for ISO dates)."""
    v = current_version(root) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version at {root}")
    snap = snapshot_info(root, v)
    stats = snap["stats"]
    mp = _mapping_at(root, v)
    pcol = _phys_name(mp, col)  # manifest stats key by PHYSICAL name
    if col in _table_config(root)["partition_by"]:
        def _pv(rel):
            raw = partition_values(rel).get(col)
            if raw is None:
                return None
            if isinstance(lo, (int, float)) and not isinstance(lo, bool):
                try:
                    return type(lo)(raw) if "." not in raw else float(raw)
                except ValueError:
                    return None
            return raw

        pruned = [
            rel
            for rel in snap["files"]
            if (pv := _pv(rel)) is None or lo <= pv <= hi
        ]
    else:
        pruned = [
            rel
            for rel in snap["files"]
            if (rng := stats.get(rel, {}).get(pcol)) is None
            or (rng[0] <= hi and rng[1] >= lo)
        ]
    schema = _snapshot_schema(root, v)
    dv_idx = _dv_indexes(root, snap.get("dv", {}), pruned)
    return _read_files_dv(spark, root, pruned, schema, dv_idx, mp).where(
        (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    )


_MAX_COMMIT_RETRIES = 20


class _Parent:
    """The parent snapshot one commit attempt builds on, resolved once
    per attempt by :func:`_transact` from the manifests alone: its
    version, file list/stats/dv map, txn map, CHECK constraints, column
    mapping and schema. The loaded deletion vectors resolve on first
    use."""

    def __init__(self, root: str):
        self.root = root
        self.v = current_version(root)
        m = _read_manifest(root, self.v)
        self.txn = dict(m.get("txn", {}))
        self.constraints = dict(m.get("constraints", {}))
        self.snap = snapshot_info(root, self.v)
        self.mapping = _mapping_at(root, self.v)

    @cached_property
    def schema(self) -> StructType:
        return _snapshot_schema(self.root, self.v)

    @cached_property
    def dv_idx(self) -> dict[str, list[int]]:
        return _dv_indexes(self.root, self.snap.get("dv", {}))

    def live(self, spark: SparkSession, rels: list[str]) -> DataFrame:
        """``rels``' live rows tagged with file basename and position."""
        return _live_with_pos(
            spark, self.root, rels, self.schema, self.dv_idx, self.mapping
        )


def _transact(
    root: str,
    op: str,
    body,
    app_id: str | None = None,
    txn_version: int | None = None,
    on_redelivery=None,
) -> int:
    """The one optimistic-commit loop every writer runs (create/clone
    are single-shot). Each attempt resolves the parent, drops an
    already-committed (app_id, txn_version) redelivery (calling
    ``on_redelivery``, returning the parent version), stamps the txn
    map, and asks ``body(parent)`` for the :class:`_Commit` to publish
    — None means nothing to commit and returns the parent version. A
    lost claim re-runs the body against the new parent (state it keeps
    across attempts, like staged files, lives in its closure), up to
    ``_MAX_COMMIT_RETRIES`` attempts. Returns the committed version."""
    for _ in range(_MAX_COMMIT_RETRIES):
        p = _Parent(root)
        if app_id is not None:
            if p.txn.get(app_id, -1) >= txn_version:
                if on_redelivery is not None:
                    on_redelivery()
                return p.v  # duplicate delivery: already committed
            p.txn[app_id] = txn_version
        c = body(p)
        if c is None:
            return p.v
        if _commit_version(root, p.v + 1, op, p.snap, p.txn, c):
            return p.v + 1
    raise RuntimeError(
        f"{op} lost {_MAX_COMMIT_RETRIES} commit races at {root}"
    )


def _dv_probe(
    spark: SparkSession, p: _Parent, rels: list[str], match
) -> tuple[dict[str, list[int]], int]:
    """Merge-on-read victims: ONE probe job over ``rels``' live rows
    narrowed by ``match`` (a DataFrame -> DataFrame filter), positions
    grouped per file back to the driver — O(matched rows), the
    point-delete budget. Returns each touched file's new CUMULATIVE
    deletion vector and the matched row count."""
    if not rels:
        return {}, 0
    hits = (
        match(p.live(spark, rels))
        .groupBy(_DV_FILE)
        .agg(F.collect_list(_DV_POS).alias("_pos"))
        .collect()
    )
    by_base = {os.path.basename(rel): rel for rel in rels}
    dv_rows: dict[str, list[int]] = {}
    n_rows = 0
    for r in hits:
        rel = by_base[r[_DV_FILE]]
        dv_rows[rel] = sorted(
            {*p.dv_idx.get(rel, []), *(int(i) for i in r["_pos"])}
        )
        n_rows += len(r["_pos"])
    return dv_rows, n_rows


def _victim_files(
    spark: SparkSession, p: _Parent, rels: list[str], match
) -> list[str]:
    """Copy-on-write victims: the files among ``rels`` holding a live
    row that ``match`` keeps — ONE probe job, distinct file basenames
    back to the driver (bounded metadata, like the manifest lists). A
    row already hidden by a deletion vector never marks its file."""
    if not rels:
        return []
    hits = match(p.live(spark, rels)).select(_DV_FILE).distinct().collect()
    hit = {r[_DV_FILE] for r in hits}
    return [rel for rel in rels if os.path.basename(rel) in hit]


def append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    app_id: str | None = None,
    txn_version: int | None = None,
    merge_schema: bool = False,
    optimized_write: bool = False,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Optimistically append df as new files; returns the committed
    version. Staging happens once — on conflict only the manifest
    claim retries (the new files are version-independent), but the
    SCHEMA evolution is re-derived against each new parent, so a
    racing writer's own evolution (an added column, a widened type)
    is merged into ours instead of rolled back — the serializable
    contract for concurrent merge_schema writers.

    Idempotent transactions (the Delta ``txnAppId``/``txnVersion``
    pattern, which is what makes a foreachBatch streaming sink
    EXACTLY-ONCE on top of Spark's at-least-once batch redelivery):
    pass ``app_id`` + a monotonically increasing ``txn_version``
    (the micro-batch id). Each manifest carries the cumulative
    {app_id: last_txn_version} map; an append whose txn_version is
    <= the recorded one is a completed redelivery and becomes a
    no-op (returns the current version, stages nothing durable).

    ``merge_schema=True`` lets the incoming frame ADD columns and
    WIDEN existing ones (lossless only): the commit records the
    widened schema, every earlier file reads back with NULLs /
    up-casts, and time travel before this version still shows the old
    shape.

    ``optimized_write=True`` (round-14, Delta's optimizeWrite): one
    extra shuffle sizes the staged files to ``target_file_bytes`` so
    a high-frequency ingest stops manufacturing the small files that
    :func:`optimize` would otherwise repair on cadence — see
    :func:`_optimized_repartition` for the sizing contract. Off by
    default: the shuffle is a real cost, and a batch whose task
    layout is already right shouldn't pay it."""
    if (app_id is None) != (txn_version is None):
        raise ValueError("app_id and txn_version come together")
    files: list[str] | None = None
    staged_schema = None
    new_stats: dict = {}
    checked_cons: set[str] = set()
    stage_mp: dict | None = None
    write_mp: dict | None = None
    map_extra: dict = {}

    def body(p: _Parent) -> _Commit:
        nonlocal files, staged_schema, new_stats, checked_cons
        nonlocal stage_mp, write_mp, map_extra
        cons = p.constraints
        tbl_schema = p.schema
        if files is not None and p.mapping != stage_mp:
            # a rename/drop landed after we staged physical files: the
            # staged names may no longer be this table's truth — a
            # genuine metadata conflict, surfaced loudly (the Delta
            # ConcurrentTransactionException shape)
            raise RuntimeError(
                "concurrent column rename/drop during append at "
                f"{root}: retry the operation"
            )
        if files is None:
            pby = _table_config(root)["partition_by"]
            lacking = [c for c in pby if c not in df.columns]
            if lacking:
                raise ValueError(
                    f"append is missing partition columns {lacking}"
                )
            evolved = _merge_struct(tbl_schema, df.schema, merge_schema)
            target = evolved if evolved is not None else tbl_schema
            aligned = _align_df(df, target)
            _validate_constraints(aligned, cons)
            checked_cons = set(cons)
            stage_mp = p.mapping
            write_mp = stage_mp
            if evolved is not None and stage_mp is not None:
                # mapping active: a NEW column takes a FRESH physical
                # name whenever its logical name ever existed before
                # (retired by a drop) or collides with a live physical
                # — old files' bytes must never resurrect under a
                # re-added name
                old_names = {g.name for g in tbl_schema.fields}
                new_fields = [
                    f.name for f in target.fields if f.name not in old_names
                ]
                if new_fields:
                    mp2 = {
                        "map": dict(stage_mp["map"]),
                        "retired": list(stage_mp["retired"]),
                    }
                    used = set(mp2["retired"]) | {
                        _phys_name(stage_mp, g.name) for g in tbl_schema.fields
                    }
                    for n in new_fields:
                        p_name = (
                            n
                            if n not in used
                            else f"{n}_{uuid.uuid4().hex[:8]}"
                        )
                        if p_name != n:
                            mp2["map"][n] = p_name
                        used.add(p_name)
                    map_extra = {"column_mapping": mp2}
                    write_mp = mp2
            staged_df = (
                _optimized_repartition(aligned, pby, target_file_bytes)
                if optimized_write
                else aligned
            )
            files = _stage_files(
                spark, root, staged_df, partition_by=pby, mapping=write_mp
            )
            new_stats = _collect_stats(root, files)
            staged_schema = target
        elif set(cons) - checked_cons:
            # a concurrent add_constraint landed between our staging
            # and this retry: validate the already-staged batch
            # against the NEW rules (O(batch) re-read)
            fresh = {n: q for n, q in cons.items() if n not in checked_cons}
            _validate_constraints(
                _read_files(spark, root, files, staged_schema, write_mp),
                fresh,
            )
            checked_cons |= set(fresh)
            evolved = _merge_struct(tbl_schema, staged_schema, True)
        else:
            # retrying against a NEW parent: re-derive the evolution
            # so a concurrent writer's schema change survives (merge
            # semantics — our staged files read through the union
            # schema with NULLs/up-casts; a genuinely incompatible
            # concurrent type change raises here, a true conflict)
            evolved = _merge_struct(tbl_schema, staged_schema, True)
        return _Commit(
            added=files,
            add_stats=new_stats,
            schema_json=evolved.json() if evolved is not None else None,
            extra=dict(map_extra),
        )

    return _transact(root, "append", body, app_id, txn_version)


def merge(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    app_id: str | None = None,
    txn_version: int | None = None,
    mode: str = "cow",
) -> int:
    """MERGE (upsert) as ONE atomic version: rows in ``updates``
    REPLACE existing rows with the same ``key_cols``; the rest insert.
    Returns the committed version.

    ``mode="dv"`` (round-12, merge-on-read): instead of rewriting
    every file containing a matched key, the matched LIVE rows'
    (file, position) pairs join each file's deletion vector and the
    update batch simply appends — one commit of O(update batch) new
    bytes + O(matched rows) metadata, ZERO files rewritten. This is
    the CDC-upsert answer at 100 TB: a small hot batch against a
    key-scattered table costs the batch, not the table's file spread.
    The change feed shows each update as its dv-delete + insert pair
    (identical semantics to the cow rewrite's diff); OPTIMIZE
    materializes the accumulated vectors on compaction cadence. High-
    overlap wholesale upserts should stay ``cow`` for the same reason
    wholesale deletes do.

    File-pruned like :func:`delete_where`, but the victim probe is a
    single job, not one per file: the snapshot is scanned once with
    ``input_file_name()`` and semi-joined to the update keys, so only
    files that actually CONTAIN a matched key are rewritten (one
    combined anti-join rewrite); everything else carries into the new
    manifest by name. Before that scan, the MANIFEST's per-file
    min/max stats prune it (single-key merges): files whose key range
    cannot overlap the batch's [min, max] are never opened — on a
    key-clustered table (optimize(cluster_by=key)) the probe cost
    collapses from O(table's key column) to O(the batch's key range),
    the Iceberg manifest-pruning mechanism. At 100 TB a CDC batch's
    merge cost is bounded by the keys' file spread, never the table.

    A retry re-probes against the new snapshot (a merge is a logical
    op, so survivors must re-stage; the staged UPDATE files are
    version-independent and reused), and the (app_id, txn_version)
    map makes a redelivered CDC batch a committed no-op — the
    exactly-once contract a replayed upsert stream needs.

    ``updates`` must be key-unique (one row per key) and key-NON-NULL,
    checked once up front: with duplicates "replace" is ill-defined
    (Delta raises DELTA_MULTIPLE_SOURCE_ROW_MATCHING here, and so do
    we), and a NULL key never matches in the semi/anti joins — it
    would insert a row no later merge could ever update, so it is
    rejected loudly instead."""
    if (app_id is None) != (txn_version is None):
        raise ValueError("app_id and txn_version come together")
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
    upd_files: list[str] | None = None
    aligned: DataFrame | None = None
    checked_cons: set[str] = set()
    stage_mp: dict | None = None
    key_range: tuple | None = None  # single-key merges: batch (min, max)

    def body(p: _Parent) -> _Commit:
        nonlocal upd_files, aligned, checked_cons, stage_mp, key_range
        cons = p.constraints
        psnap = p.snap
        if upd_files is not None and p.mapping != stage_mp:
            raise RuntimeError(
                "concurrent column rename/drop during merge at "
                f"{root}: retry the operation"
            )
        if upd_files is None:
            _merge_struct(p.schema, updates.schema, False)  # validate
            aligned = _align_df(updates, p.schema)
            aligned = aligned.localCheckpoint()  # stable across re-probes
            _validate_constraints(aligned, cons)
            checked_cons = set(cons)
            # the whole preflight is ONE aggregate job over the
            # checkpointed batch: NULL keys, rows, distinct keys (SQL
            # count(DISTINCT) skips NULL keys, so it is read only once
            # the NULL check has passed) and the single-key range
            null_pred = " OR ".join(f"`{k}` IS NULL" for k in key_cols)
            stats = [
                F.count_if(F.expr(null_pred)).alias("n_null"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct(*key_cols).alias("n_keys"),
            ]
            if len(key_cols) == 1:
                stats += [
                    F.min(key_cols[0]).alias("lo"),
                    F.max(key_cols[0]).alias("hi"),
                ]
            pre = aligned.agg(*stats).first()
            if pre["n_null"]:
                raise ValueError(
                    f"merge updates carry {pre['n_null']} NULL-key rows "
                    f"on {key_cols}: a NULL key never joins, so the row "
                    "could never be updated or replaced later"
                )
            if pre["n_rows"] != pre["n_keys"]:
                raise ValueError(
                    f"merge updates are not key-unique on {key_cols}: "
                    f"{pre['n_rows']} rows, {pre['n_keys']} keys"
                )
            if len(key_cols) == 1:
                key_range = (pre["lo"], pre["hi"])
            pby = _table_config(root)["partition_by"]
            stage_mp = p.mapping
            upd_files = _stage_files(
                spark, root, aligned, partition_by=pby, mapping=stage_mp
            )
        elif set(cons) - checked_cons:
            # concurrent add_constraint during our retry window:
            # validate the (checkpointed) batch against the new rules
            fresh = {n: q for n, q in cons.items() if n not in checked_cons}
            _validate_constraints(aligned, fresh)
            checked_cons |= set(fresh)
        keys = aligned.select(*key_cols).distinct()
        # manifest-stats prefilter (single-key merges): a file whose
        # recorded [min, max] for the key cannot overlap the batch's
        # key range cannot contain a victim — skip it without opening
        # it. Files with no recorded stats stay candidates (old
        # writers, unstatted types): pruning is an optimization, never
        # a correctness decision.
        candidates = list(psnap["files"])
        if key_range is not None and candidates:
            lo, hi = key_range
            if lo is not None:
                stats = psnap["stats"]
                pkey = _phys_name(stage_mp, key_cols[0])  # stats key physical
                candidates = [
                    rel
                    for rel in candidates
                    if (rng := stats.get(rel, {}).get(pkey)) is None
                    or (rng[0] <= hi and rng[1] >= lo)
                ]
            else:
                candidates = []  # empty batch: nothing can match
        # AQE broadcasts the key side of the probe join when small
        if mode == "dv":
            # merge-on-read: matched LIVE rows become deletion-vector
            # entries and the update batch appends; nothing is
            # rewritten.
            dv_rows, n_hit = _dv_probe(
                spark,
                p,
                candidates,
                lambda d: d.join(keys, list(key_cols), "left_semi"),
            )
            return _Commit(
                added=list(upd_files),
                add_stats=_collect_stats(root, upd_files),
                extra={
                    "key_cols": list(key_cols),
                    "mode": "dv",
                    "dv_rows": n_hit,
                    "rewrote": 0,
                    "carried": len(psnap["files"]),
                    "probed": len(candidates),
                },
                dv_rows=dv_rows,
            )
        # LIVE rows only: a row already hidden by a deletion vector
        # can neither mark its file a victim nor resurrect through the
        # rewrite below
        victims = _victim_files(
            spark,
            p,
            candidates,
            lambda d: d.select(*key_cols, _DV_FILE).join(
                keys, list(key_cols), "left_semi"
            ),
        )
        staged = list(upd_files)
        if victims:
            survivors = _read_files_dv(
                spark, root, victims, p.schema, p.dv_idx, stage_mp
            ).join(keys, list(key_cols), "left_anti")
            staged += _stage_files(
                spark,
                root,
                survivors,
                partition_by=_table_config(root)["partition_by"],
                mapping=stage_mp,
            )
        return _Commit(
            removed=victims,
            added=staged,
            add_stats=_collect_stats(root, staged),
            extra={
                "key_cols": list(key_cols),
                "rewrote": len(victims),
                "carried": len(psnap["files"]) - len(victims),
                "probed": len(candidates),
            },
        )

    return _transact(root, "merge", body, app_id, txn_version)


def delete_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    mode: str = "cow",
) -> int:
    """Delete rows matching the SQL predicate; returns the committed
    version.

    ``mode="cow"`` (copy-on-write, the default): only files CONTAINING
    victims are rewritten; clean files carry over by reference. The
    victim probe is ONE job — the snapshot scanned once with the
    file-path metadata column and filtered by the predicate (parquet
    pushdown applies inside the scan; on a partitioned table a
    partition-column predicate prunes whole directories inside that
    scan too), distinct file names back to the driver — not a job per
    file: at 10^5 files the per-file form pays 10^5 job-scheduling
    round-trips before any IO. The rewrite is one combined job too; a
    file whose rows are ALL victims simply contributes nothing to the
    rewrite (dropped, not rewritten). A delete is a logical operation,
    so a retry re-probes against the new snapshot, unlike append.

    ``mode="dv"`` (merge-on-read, round-12 — the Delta/Iceberg
    deletion-vector design): NO data file is rewritten at all. The
    probe collects the victims' (file, row position) pairs, unions
    them into each touched file's cumulative deletion vector, writes
    ONE dv sidecar, and commits a metadata-only delta — O(deleted
    rows) cost instead of O(bytes of every file containing a victim).
    This is the GDPR-point-delete answer at 100 TB: removing KBs no
    longer rewrites GBs. Readers anti-join the (broadcast) vectors
    out; :func:`optimize` MATERIALIZES them (rewrites files without
    the dead rows and clears the vectors), which is the periodic
    compaction that keeps read-side vector size bounded. Wholesale
    deletes should stay ``cow`` — a vector covering most of a table
    is strictly worse than rewriting it.

    Both modes observe existing vectors: a row already dv-deleted can
    never resurrect through a later delete's rewrite, and a cow
    rewrite of a dv'd file materializes that file's vector as a side
    effect (the replacement holds only live survivor rows)."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")

    def body(p: _Parent) -> _Commit:
        files = p.snap["files"]
        if mode == "dv":
            dv_rows, n_rows = _dv_probe(
                spark, p, files, lambda d: d.where(predicate)
            )
            return _Commit(
                extra={
                    "predicate": predicate,
                    "mode": "dv",
                    "dv_rows": n_rows,
                    "rewrote": 0,
                    "carried": len(files),
                },
                dv_rows=dv_rows,
            )
        rewrite = _victim_files(
            spark, p, files, lambda d: d.where(predicate)
        )
        staged: list[str] = []
        if rewrite:
            survivors = _read_files_dv(
                spark, root, rewrite, p.schema, p.dv_idx, p.mapping
            ).where(f"NOT ({predicate})")
            staged = _stage_files(
                spark,
                root,
                survivors,
                partition_by=_table_config(root)["partition_by"],
                mapping=p.mapping,
            )
        return _Commit(
            removed=rewrite,
            added=staged,
            add_stats=_collect_stats(root, staged),
            extra={
                "predicate": predicate,
                "rewrote": len(rewrite),
                "carried": len(files) - len(rewrite),
            },
        )

    return _transact(root, "delete", body)


def update_where(
    spark: SparkSession,
    root: str,
    set: dict[str, str],
    predicate: str,
    mode: str = "cow",
) -> int:
    """UPDATE: rewrite the rows matching the SQL ``predicate`` with
    ``set`` (column name -> SQL expression, evaluated against the
    matched row — ``{"o_comment": "upper(o_comment)"}``) as ONE atomic
    version; returns the committed version. The last DML verb of the
    Delta triad (DELETE :func:`delete_where`, MERGE :func:`merge`,
    UPDATE here) — without it a set-columns-where rewrite needs a
    hand-rolled merge against a self-scan. Reference: N/A (the Go
    engine mutates nothing, SURVEY §2.4); semantics follow Delta's
    UPDATE.

    ``mode="cow"`` (default): the victim probe is ONE job — the live
    snapshot scanned once (parquet predicate pushdown applies; a
    partition-column predicate prunes directories inside that scan),
    distinct file names back to the driver. Only files CONTAINING a
    match are rewritten, in one combined job that applies the set
    expressions under ``CASE WHEN predicate`` so unmatched rows in a
    touched file carry byte-identical; clean files carry over by
    reference. At 100 TB the cost is the matched rows' file spread,
    never the table.

    ``mode="dv"`` (merge-on-read): NO file is rewritten — the matched
    LIVE rows' (file, position) pairs union into each touched file's
    deletion vector (one probe job, O(matched rows) driver memory) and
    the UPDATED images of exactly those rows append as new files, the
    same commit shape as dv MERGE. The point-update answer for a hot
    predicate over a cold 100 TB table; OPTIMIZE materializes the
    vectors on compaction cadence. Wholesale updates should stay cow.

    Both modes observe existing vectors (a dv-deleted row can neither
    match nor resurrect through the rewrite), re-validate CHECK
    constraints against the post-update rows, type-check every set
    expression against the column's declared type (lossless casts
    only — an expression that would narrow fails loudly), and surface
    in the change feed as the standard delete+insert pair per updated
    row with carried rows cancelling exactly (cow) or never read (dv).
    Updating a PARTITION column is allowed and moves the row's file to
    the new hive directory (both modes re-stage through the table's
    ``partition_by``)."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
    if not set:
        raise ValueError("update_where needs at least one SET column")

    def body(p: _Parent) -> _Commit:
        schema = p.schema
        known = schema.fieldNames()
        missing = [c for c in set if c not in known]
        if missing:
            raise ValueError(
                f"SET targets {missing} are not columns of {root} "
                f"(schema: {known})"
            )
        files = p.snap["files"]
        pby = _table_config(root)["partition_by"]
        cond = F.expr(predicate)

        def _updated_cols(prefix_when: bool):
            # the post-update row image: SET expressions cast back to
            # the column's DECLARED type — lossless only, validated
            # below via _merge_struct, then pinned by _align_df
            return [
                (
                    (
                        F.when(cond, F.expr(set[f.name]))
                        .otherwise(F.col(f.name))
                        if prefix_when
                        else F.expr(set[f.name])
                    ).alias(f.name)
                    if f.name in set
                    else F.col(f.name)
                )
                for f in schema.fields
            ]

        staged: list[str] = []
        if mode == "dv":
            dv_rows, n_rows = _dv_probe(
                spark, p, files, lambda d: d.where(predicate)
            )
            if dv_rows:
                # second pass over the same IMMUTABLE files: the
                # updated images of exactly the dv'd rows, staged as
                # ordinary new files
                updated = (
                    p.live(spark, files)
                    .where(predicate)
                    .select(*_updated_cols(False))
                )
                _merge_struct(schema, updated.schema, False)
                updated = _align_df(updated, schema)
                _validate_constraints(updated, p.constraints)
                staged = _stage_files(
                    spark, root, updated, partition_by=pby, mapping=p.mapping
                )
            return _Commit(
                added=staged,
                add_stats=_collect_stats(root, staged),
                extra={
                    "predicate": predicate,
                    "set": dict(set),
                    "mode": "dv",
                    "dv_rows": n_rows,
                    "rewrote": 0,
                    "carried": len(files),
                },
                dv_rows=dv_rows,
            )
        rewrite = _victim_files(
            spark, p, files, lambda d: d.where(predicate)
        )
        if rewrite:
            rewritten = _read_files_dv(
                spark, root, rewrite, schema, p.dv_idx, p.mapping
            ).select(*_updated_cols(True))
            _merge_struct(schema, rewritten.schema, False)
            rewritten = _align_df(rewritten, schema)
            # carried rows already satisfied the constraints at v, so
            # a violation here can only come from an updated row
            _validate_constraints(rewritten, p.constraints)
            staged = _stage_files(
                spark, root, rewritten, partition_by=pby, mapping=p.mapping
            )
        return _Commit(
            removed=rewrite,
            added=staged,
            add_stats=_collect_stats(root, staged),
            extra={
                "predicate": predicate,
                "set": dict(set),
                "rewrote": len(rewrite),
                "carried": len(files) - len(rewrite),
            },
        )

    return _transact(root, "update", body)


def optimize(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: tuple[str, ...] = (),
    zorder_by: tuple[str, ...] = (),
    zorder_bits: int = 12,
    partitions: dict | None = None,
    only_smaller_than: int | None = None,
) -> int:
    """Compaction as a COMMIT (the Delta/Iceberg OPTIMIZE verb): the
    current snapshot's files are rewritten into
    ``ceil(total_bytes / target_file_bytes)`` files and published as a
    new version with IDENTICAL logical content. Returns the committed
    version (the current one unchanged when the snapshot is empty).

    Why a commit and not an in-place swap (compact_parquet_dir): a
    reader pinned at version N holds N's exact file list, and those
    files are untouched until ``vacuum`` — so compaction can never
    race a reader, the failure mode the plain-dir form documents away
    with a single-writer contract. The change feed is empty across an
    optimize commit by construction (same multiset of rows; the
    removed/added file diff cancels in :func:`read_changes`).

    The small-file problem this pays for: streaming appends and
    fine-grained MERGEs leave KB-scale files, and every later scan
    pays task startup + a footer read per file; one bounded rewrite
    buys every future scan back. On a partitioned table the rewrite
    preserves the hive layout (each partition's rows land back in its
    directory).

    ``cluster_by`` makes the rewrite ALSO restore data clustering
    (the Iceberg sort-order shape): rows are range-partitioned +
    sorted within files on the given columns, so after many
    unclustered appends/merges scatter the key space, one optimize
    brings back footer min/max file skipping for filters on those
    columns.

    ``zorder_by`` is the multi-dimension form — the Delta
    ``OPTIMIZE ... ZORDER BY`` verb: one calibration agg computes
    each column's [min, max], a Morton-interleaved key
    (``sources/sinks.zorder_key``, pure codegen — no UDF, no extra
    shuffle beyond the rewrite's own) range-partitions + sorts the
    rewrite, and the key is dropped before writing. Each output file
    then covers a small hyper-rectangle of the value space, so footer
    min/max stats — and therefore the manifest stats that
    :func:`scan_table` and the MERGE probe prune on — skip files for
    predicates on ANY clustered column, where 1-D clustering prunes
    only its leading one. Numeric columns only (cast upstream for
    dates). Mutually exclusive with ``cluster_by``.

    SUBSET compaction (round-12 — at 100 TB you never compact the
    whole table in one commit): ``partitions={"col": vals}`` scopes
    the rewrite to matching hive partitions (exact — a file holds
    exactly one partition tuple), and ``only_smaller_than=bytes``
    scopes it to files below a size threshold (the Delta small-file
    selection: freshly compacted big files are never re-churned).
    Untouched files — including their deletion vectors — carry into
    the new version by name; only the REWRITTEN subset's vectors
    materialize. Both filters compose; an empty selection (or a
    singleton already-right-sized selection) returns the current
    version without committing."""
    if cluster_by and zorder_by:
        raise ValueError("pass cluster_by or zorder_by, not both")

    def body(p: _Parent) -> _Commit | None:
        psnap = p.snap
        subset = list(psnap["files"])
        if partitions:
            subset = _prune_partitions(root, subset, partitions)
        if only_smaller_than is not None:
            subset = [
                rel
                for rel in subset
                if os.path.getsize(os.path.join(root, rel))
                < only_smaller_than
            ]
        if not subset or (
            len(subset) == 1
            and not cluster_by
            and not zorder_by
            and not psnap.get("dv", {}).get(subset[0])
        ):
            return None  # nothing to do: no commit, no churn
        total = sum(
            os.path.getsize(os.path.join(root, f)) for f in subset
        )
        n = max(1, math.ceil(total / target_file_bytes))
        # reading THROUGH the deletion vectors makes OPTIMIZE also the
        # materialization step: the rewrite holds only live rows, the
        # removed files take their vectors with them, and the new
        # snapshot is vector-free (the Delta REORG PURGE behavior,
        # folded into compaction)
        df = _read_files_dv(
            spark,
            root,
            subset,
            p.schema,
            _dv_indexes(root, psnap.get("dv", {}), subset),
            p.mapping,
        )
        pby = _table_config(root)["partition_by"]
        if zorder_by:
            from .sinks import zorder_key

            row = df.agg(
                *[F.min(c).alias(f"lo{i}") for i, c in enumerate(zorder_by)],
                *[F.max(c).alias(f"hi{i}") for i, c in enumerate(zorder_by)],
            ).first()
            # a dimension with NO recorded bounds (zero rows, or an
            # entirely-NULL column — round-12 ADVICE: checking only
            # the FIRST column's min crashed on a later all-NULL one)
            # cannot be interleaved: drop it and zorder on the rest;
            # with none left, plain compaction.
            bounded = [
                i
                for i in range(len(zorder_by))
                if row[f"lo{i}"] is not None and row[f"hi{i}"] is not None
            ]
            if not bounded:
                out = df.repartition(n)
            else:
                dims = [zorder_by[i] for i in bounded]
                mins = [float(row[f"lo{i}"]) for i in bounded]
                maxs = [float(row[f"hi{i}"]) for i in bounded]
                keyed = df.withColumn(
                    "_zkey",
                    zorder_key(
                        [F.col(c) for c in dims], mins, maxs, zorder_bits
                    ),
                )
                out = (
                    keyed.repartitionByRange(n, *pby, "_zkey")
                    .sortWithinPartitions(*pby, "_zkey")
                    .drop("_zkey")
                )
        else:
            order = list(pby) + [c for c in cluster_by if c not in pby]
            if order:
                out = df.repartitionByRange(n, *order).sortWithinPartitions(
                    *order
                )
            else:
                out = df.repartition(n)
        files = _stage_files(
            spark, root, out, partition_by=pby, mapping=p.mapping
        )
        return _Commit(
            removed=subset,
            added=files,
            add_stats=_collect_stats(root, files),
            extra={
                "compacted_from": len(subset),
                **(
                    {"carried": len(psnap["files"]) - len(subset)}
                    if len(subset) != len(psnap["files"])
                    else {}
                ),
                **({"cluster_by": list(cluster_by)} if cluster_by else {}),
                **({"zorder_by": list(zorder_by)} if zorder_by else {}),
            },
        )

    return _transact(root, "optimize", body)


def read_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
    partitions: dict | None = None,
) -> DataFrame:
    """Change data feed: the row-level changes a consumer checkpointed
    at snapshot ``from_version`` needs to catch up to ``to_version``
    (default: current) — i.e. the commits in ``(from_version,
    to_version]``, EXCLUSIVE of the checkpoint itself. Returns the
    table columns (in the to_version schema) plus ``_change_type``
    ('insert' | 'delete') and ``_commit_version``.

    Derivation is straight from the logged add/remove ACTIONS (delta
    manifests carry them verbatim; full manifests diff against the
    running file set), so the cost per commit is O(its touched files),
    never a corpus scan: a pure append's added files ARE its inserts
    (no diffing at all); a delete/merge commit diffs only the
    rewritten files' rows against their replacements (``exceptAll``
    both ways — multiset semantics, so carried-over survivor rows
    cancel exactly); an optimize commit cancels to zero rows. An
    updated row surfaces as its delete+insert pair (the standard CDF
    fallback when pre/post images aren't logged). At 100 TB this is
    what makes incremental consumers O(delta) instead of O(corpus) —
    the difference between re-deduping a batch and re-deduping the
    internet.

    ``partitions`` narrows the feed to matching hive partitions at
    PLANNING time (each commit's touched-file lists are path-pruned
    before any read — a per-partition consumer pays only its own
    partition's changes). Exact because a file holds exactly one
    partition tuple, so pruning can never split a delete/insert pair
    whose rows the residual filter would keep."""
    cur = current_version(root)
    to_v = cur if to_version is None else to_version
    if from_version < -1 or to_v > cur:
        raise ValueError(
            f"version range ({from_version}, {to_v}] outside [-1, {cur}]"
        )
    out_schema = _snapshot_schema(root, max(to_v, 0))
    map_to = _mapping_at(root, max(to_v, 0))
    cdf_schema = StructType(
        list(out_schema.fields)
        + [
            StructField("_change_type", StringType(), False),
            StructField("_commit_version", LongType(), False),
        ]
    )
    if from_version >= 0:
        snap0 = snapshot_info(root, from_version)
        prev = set(snap0["files"])
        prev_dv: dict[str, str] = dict(snap0.get("dv", {}))
    else:
        prev = set()
        prev_dv = {}
    out: DataFrame | None = None
    for v in range(from_version + 1, to_v + 1):
        m = _read_manifest(root, v)
        if _is_full(m):
            cur_files = set(_load_full(root, m)[0])
            cur_dv = dict(_full_dv(root, m))
            added = sorted(cur_files - prev)
            removed = sorted(prev - cur_files)
        else:
            added = sorted(m.get("add", []))
            removed = sorted(m.get("remove", []))
            cur_files = (prev - set(removed)) | set(added)
            cur_dv = {
                rel: ref
                for rel, ref in prev_dv.items()
                if rel in cur_files
            }
            cur_dv.update(m.get("dv", {}))
        # deletion-vector diffs on CARRIED files: growing a vector
        # deletes the rows at the NEW positions; shrinking one (a
        # restore rolling a dv delete back) re-inserts them. O(dv
        # entries) driver compare per commit, never a corpus scan.
        carried = (prev & cur_files) if (prev_dv or cur_dv) else set()
        dv_changed = sorted(
            rel
            for rel in carried
            if prev_dv.get(rel) != cur_dv.get(rel)
        )
        parent_dv = prev_dv
        prev, prev_dv = cur_files, cur_dv
        if partitions:
            added = _prune_partitions(root, added, partitions)
            removed = _prune_partitions(root, removed, partitions)
            dv_changed = _prune_partitions(root, dv_changed, partitions)
        del_pos: dict[str, list[int]] = {}
        ins_pos: dict[str, list[int]] = {}
        if dv_changed:
            old_idx = _dv_indexes(root, parent_dv, dv_changed)
            new_idx = _dv_indexes(root, cur_dv, dv_changed)
            for rel in dv_changed:
                o = set(old_idx.get(rel, []))
                n_ = set(new_idx.get(rel, []))
                if n_ - o:
                    del_pos[rel] = sorted(n_ - o)
                if o - n_:
                    ins_pos[rel] = sorted(o - n_)
        if not added and not removed and not del_pos and not ins_pos:
            continue
        # Schema binding per COMMIT, not per range (round-12 ADVICE):
        # files added at v conform to the schema AS OF v, files removed
        # at v conform to the PARENT's schema (v-1) — which matters
        # across a RESTORE that undid a type widening, where the
        # removed wide-era files cannot be read under the restored
        # narrow to_version schema (parquet readers promote, never
        # demote). Read each side under its own commit's schema, then
        # cast to the declared output schema — ANSI casts, so a value
        # that genuinely cannot narrow fails loudly instead of
        # corrupting the feed.
        sch_a = _snapshot_schema(root, v)
        sch_r = _snapshot_schema(root, v - 1) if v > 0 else sch_a
        mp_a = _mapping_at(root, v)
        mp_r = _mapping_at(root, v - 1) if v > 0 else mp_a
        # each side's LIVE rows: an added file may arrive with a
        # vector (restore), a removed file's dv'd rows were already
        # dead at v-1 — neither may surface as a change. Columns
        # relabel to the OUTPUT era's logical names by physical
        # identity before aligning (renames are identity in the feed).
        a = _align_df(
            _relabel_for_out(
                _read_files_dv(
                    spark,
                    root,
                    added,
                    sch_a,
                    _dv_indexes(root, cur_dv, added),
                    mp_a,
                ),
                sch_a,
                mp_a,
                out_schema,
                map_to,
            ),
            out_schema,
        )
        r = _align_df(
            _relabel_for_out(
                _read_files_dv(
                    spark,
                    root,
                    removed,
                    sch_r,
                    _dv_indexes(root, parent_dv, removed),
                    mp_r,
                ),
                sch_r,
                mp_r,
                out_schema,
                map_to,
            ),
            out_schema,
        )
        if del_pos:
            r = r.unionByName(
                _align_df(
                    _relabel_for_out(
                        _rows_at_positions(spark, root, del_pos, sch_a, mp_a),
                        sch_a,
                        mp_a,
                        out_schema,
                        map_to,
                    ),
                    out_schema,
                )
            )
        if ins_pos:
            a = a.unionByName(
                _align_df(
                    _relabel_for_out(
                        _rows_at_positions(spark, root, ins_pos, sch_a, mp_a),
                        sch_a,
                        mp_a,
                        out_schema,
                        map_to,
                    ),
                    out_schema,
                )
            )
        if (added or ins_pos) and (removed or del_pos):
            # Multiset cancellation: rows identical across the two
            # sides net to zero (optimize commits cancel exactly).
            # Both directions from ONE signed-count aggregate (round
            # 15, guide §2.4/§1.2): `a.exceptAll(r)` + `r.exceptAll(a)`
            # each lower to their own Union -> Aggregate-by-all-columns
            # -> Generate subtree, i.e. TWO shuffles and TWO scans of
            # every touched file per commit. Tagging each side +1/-1,
            # aggregating once, and replicating |net| copies per sign
            # is the same multiset difference (exceptAll's own rewrite
            # is the one-sided form of exactly this computation —
            # null-safe grouping and NaN/-0.0 normalization included,
            # equality pinned by test_txlog_cdf_single_pass_diff), and
            # the two branches read the SAME exchange, which AQE
            # dedups via ReusedExchange: one shuffle, one scan set.
            # sequence(1, n) materializes n elements per netted row —
            # n is the multiplicity of a fully-identical row in one
            # commit's touched files, bounded by rows-per-file in
            # practice (exact dups of a whole row are what upstream
            # dedup removes). Condition: n stays within Spark's array
            # cap (2^31 - 16 elements); a commit touching more copies
            # of one identical row fails this read loudly.
            cols = [f.name for f in out_schema.fields]
            _w, _n = "__cdf_w__", "__cdf_n__"
            net = (
                a.select(*cols, F.lit(1).alias(_w))
                .unionByName(r.select(*cols, F.lit(-1).alias(_w)))
                .groupBy(*cols)
                .agg(F.sum(_w).alias(_n))
            )
            ins = net.where(F.col(_n) > 0).select(
                *cols,
                F.explode(F.sequence(F.lit(1), F.col(_n))).alias("__i__"),
            ).drop("__i__")
            dels = net.where(F.col(_n) < 0).select(
                *cols,
                F.explode(F.sequence(F.lit(1), -F.col(_n))).alias("__i__"),
            ).drop("__i__")
        else:
            ins, dels = a, r
        chg = ins.withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(dels.withColumn("_change_type", F.lit("delete")))
        chg = chg.withColumn(
            "_commit_version", F.lit(v).cast("long")
        )
        out = chg if out is None else out.unionByName(chg)
    if out is None:
        return _arrow_df(spark, cdf_schema)
    return out


def constraints(root: str, version: int | None = None) -> dict[str, str]:
    """The CHECK constraints in force at a version: {name: sql
    predicate}, carried cumulatively in every manifest (like the txn
    map)."""
    v = current_version(root) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version at {root}")
    return dict(_read_manifest(root, v).get("constraints", {}))


def _validate_constraints(df: DataFrame, cons: dict[str, str]) -> None:
    """ONE aggregation job counts violations per constraint (SQL CHECK
    semantics: NULL predicate results pass). Raises listing every
    violated constraint with its row count — incompatible writes FAIL,
    never corrupt."""
    if not cons:
        return
    names = list(cons)
    row = df.agg(
        *[
            F.sum(
                F.when(~F.expr(cons[n]), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"c{i}")
            for i, n in enumerate(names)
        ]
    ).first()
    bad = {
        n: int(row[f"c{i}"])
        for i, n in enumerate(names)
        if row[f"c{i}"]
    }
    if bad:
        raise ValueError(
            "CHECK constraint violation: "
            + ", ".join(
                f"{n!r} ({cons[n]}) fails on {k} rows"
                for n, k in bad.items()
            )
        )


def add_constraint(
    spark: SparkSession,
    root: str,
    name: str,
    predicate: str,
) -> int:
    """ALTER TABLE ADD CONSTRAINT (the Delta CHECK-constraint verb):
    validates the predicate against the ENTIRE current snapshot (one
    scan — a constraint that existing rows violate is refused, like
    Delta's DELTA_NEW_CHECK_CONSTRAINT_VIOLATION), then commits it
    into the manifest; every later append/merge validates its batch
    (O(batch), one agg job) and fails loudly on violation. Committed
    as its own version, so constraints are time-travel-consistent:
    a snapshot read shows the rules that were in force."""

    def body(p: _Parent) -> _Commit:
        if name in p.constraints:
            raise ValueError(f"constraint {name!r} already exists")
        _validate_constraints(
            read_table(spark, root, version=p.v), {name: predicate}
        )
        return _Commit(
            extra={
                "constraints": {**p.constraints, name: predicate},
                "constraint": name,
                "predicate": predicate,
            }
        )

    return _transact(root, "add_constraint", body)


def drop_constraint(spark: SparkSession, root: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: removes the named check as a
    commit (unknown names are a loud error)."""

    def body(p: _Parent) -> _Commit:
        if name not in p.constraints:
            raise ValueError(f"no such constraint {name!r}")
        p.constraints.pop(name)
        return _Commit(
            extra={"constraints": p.constraints, "constraint": name}
        )

    return _transact(root, "drop_constraint", body)


def rename_column(
    spark: SparkSession,
    root: str,
    old: str,
    new: str,
) -> int:
    """ALTER TABLE RENAME COLUMN without rewriting a single data file
    (round-11 verdict item 4 — Delta's column-mapping design): the
    commit records the renamed LOGICAL schema plus a logical->physical
    mapping entry pointing the new name at the column's original
    PHYSICAL name, which every file on disk keeps forever. Readers
    bind the physical schema and alias back; writers alias
    logical->physical before staging; time travel below this commit
    still shows the old name; the change feed treats the rename as
    identity (matching by physical name). Partition columns cannot be
    renamed — their name is baked into every hive directory path."""
    if new.startswith("#"):
        raise ValueError("column names starting with '#' are reserved")

    def body(p: _Parent) -> _Commit:
        names = [f.name for f in p.schema.fields]
        if old not in names:
            raise ValueError(f"no such column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if old in _table_config(root)["partition_by"]:
            raise ValueError(
                f"{old!r} is a partition column: its name is part of "
                "every data path and cannot be remapped"
            )
        mp = p.mapping or {"map": {}, "retired": []}
        mp["map"][new] = mp["map"].pop(old, old)
        new_schema = StructType(
            [
                StructField(new, f.dataType, True) if f.name == old else f
                for f in p.schema.fields
            ]
        )
        return _Commit(
            schema_json=new_schema.json(),
            extra={"column_mapping": mp, "renamed": [old, new]},
        )

    return _transact(root, "rename_column", body)


def drop_column(spark: SparkSession, root: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN without rewriting a single data file:
    the commit removes the field from the logical schema and RETIRES
    its physical name in the mapping — the bytes stay in the files,
    unprojected. A later re-ADD of the same logical name takes a
    FRESH physical name (see :func:`append`), so the dropped values
    can never resurrect: old rows read NULL under the re-added
    column, exactly Delta's column-mapping drop semantics. Time
    travel below this commit still shows (and reads) the column."""
    def body(p: _Parent) -> _Commit:
        names = [f.name for f in p.schema.fields]
        if name not in names:
            raise ValueError(f"no such column {name!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop a table's only column")
        if name in _table_config(root)["partition_by"]:
            raise ValueError(f"{name!r} is a partition column")
        mp = p.mapping or {"map": {}, "retired": []}
        phys = mp["map"].pop(name, name)
        if phys not in mp["retired"]:
            mp["retired"].append(phys)
        new_schema = StructType(
            [f for f in p.schema.fields if f.name != name]
        )
        return _Commit(
            schema_json=new_schema.json(),
            extra={"column_mapping": mp, "dropped_column": name},
        )

    return _transact(root, "drop_column", body)


def clone_table(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    version: int | None = None,
) -> int:
    """CLONE (the Delta SHALLOW CLONE verb, upgraded): create
    ``dst_root`` as a NEW table whose v0 holds the SOURCE snapshot's
    data — zero bytes copied. Where Delta's shallow clone references
    the source's files by path (so vacuuming the source BREAKS the
    clone — their documented hazard), this clone HARD-LINKS each file
    under the clone's own data/ dir: same zero-copy cost (one
    metadata op per file, ~10 us), but the inode refcount keeps
    shared files alive, so source vacuum/optimize/delete can never
    break the clone and clone vacuum never touches the source. The
    two tables then evolve fully independently (history resets at the
    clone's v0, like Delta). Per-file stats, the schema binding,
    partition layout, and the checkpoint cadence are carried over;
    cross-filesystem clones fall back to a real copy per file.

    The write-once data-file contract makes this safe: committed
    files are never modified in place by any verb (delete/merge/
    optimize stage NEW files), so a shared inode can never see a
    write through either table."""
    if current_version(dst_root) >= 0:
        raise FileExistsError(f"txlog table already exists at {dst_root}")
    v = current_version(src_root) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version at {src_root}")
    snap = snapshot_info(src_root, v)
    cfg = _table_config(src_root)
    os.makedirs(os.path.join(dst_root, _DATA), exist_ok=True)
    tag = uuid.uuid4().hex[:12]
    src_dv = _dv_indexes(src_root, snap.get("dv", {}))
    new_rels: list[str] = []
    new_stats: dict[str, dict] = {}
    new_dv_rows: dict[str, list[int]] = {}
    for i, rel in enumerate(snap["files"]):
        sub = os.path.dirname(rel)  # "data" or "data/col=value"
        dest_dir = os.path.join(dst_root, sub)
        os.makedirs(dest_dir, exist_ok=True)
        final = f"part-{tag}-{i:06d}.parquet"
        src_path = os.path.join(src_root, rel)
        dst_path = os.path.join(dest_dir, final)
        # zero-copy share where the store supports it (POSIX hard
        # link — inode refcount keeps shared files alive across
        # source vacuum); a real copy otherwise (object-store
        # server-side copy): see logstore.py
        _STORE.link_or_copy(src_path, dst_path)
        new_rel = f"{sub}/{final}"
        new_rels.append(new_rel)
        if rel in snap["stats"]:
            new_stats[new_rel] = snap["stats"][rel]
        if rel in src_dv:
            # deletion vectors travel with the clone, re-keyed to the
            # clone's file names (the shared inode still holds the
            # DELETED rows' bytes; the vector is what hides them)
            new_dv_rows[new_rel] = src_dv[rel]
    ok = _commit_version(
        dst_root,
        0,
        "create",
        {"files": [], "stats": {}},
        {},
        _Commit(
            added=new_rels,
            add_stats=new_stats,
            schema_json=_schema_json_at(src_root, v),
            dv_rows=new_dv_rows,
            extra={
                "cloned_from": os.path.abspath(src_root),
                "cloned_version": v,
                # the snapshot's CHECK constraints travel with the clone
                **(
                    {"constraints": dict(src_cons)}
                    if (src_cons := _read_manifest(src_root, v).get("constraints"))
                    else {}
                ),
                **(
                    {"partition_by": cfg["partition_by"]}
                    if cfg["partition_by"]
                    else {}
                ),
                "checkpoint_every": cfg["checkpoint_every"],
                # an active column mapping travels with the clone (the
                # linked files carry the PHYSICAL names it decodes)
                **(
                    {"column_mapping": src_mp}
                    if (src_mp := _mapping_at(src_root, v)) is not None
                    else {}
                ),
            },
        ),
    )
    if not ok:
        raise FileExistsError(f"concurrent create at {dst_root}")
    return 0


def restore(spark: SparkSession, root: str, version: int) -> int:
    """RESTORE (the Delta verb): roll the table back to an earlier
    snapshot AS A NEW COMMIT — the new manifest references version N's
    exact file list (and its schema binding), so nothing is copied,
    history is preserved, and the rollback itself is undoable by
    another restore. Fails if any of N's files were already vacuumed
    (the retention contract: restore reaches only as far back as
    vacuum has kept). The change feed across a restore is the row-level
    UNDO of everything since N — computed by the same file-diff
    machinery, nothing special-cased."""
    target = snapshot_info(root, version)
    missing = [
        rel
        for rel in target["files"]
        if not os.path.exists(os.path.join(root, rel))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore v{version}: {len(missing)} of its files "
            f"were vacuumed (first: {missing[0]})"
        )
    schema_json = _schema_json_at(root, version)
    mp_t = _mapping_at(root, version)

    def body(p: _Parent) -> _Commit:
        return _Commit(
            removed=list(p.snap["files"]),
            added=list(target["files"]),
            add_stats=dict(target["stats"]),
            # re-pin the restored snapshot's schema: a later evolution
            # must not leak into the rolled-back view
            schema_json=schema_json,
            extra={
                "restored_from": version,
                # re-pin the target's column mapping (possibly none —
                # a rename/drop being rolled back); _commit_version
                # skips parent-inheritance for restore so an absent
                # key here means mapping-inactive, as at the target
                **({"column_mapping": mp_t} if mp_t is not None else {}),
            },
            # the target's deletion vectors travel with its files
            # (sidecars are immutable and never deleted while any
            # manifest references them, so refs are reusable)
            dv_set=dict(target.get("dv", {})),
        )

    return _transact(root, "restore", body)


_HISTORY_SCHEMA = StructType(
    [
        StructField("version", LongType(), False),
        StructField("op", StringType(), False),
        StructField("parent", LongType(), True),
        StructField("n_files", LongType(), False),
        StructField("detail", StringType(), True),
        StructField("ts", DoubleType(), False),
    ]
)


def _history_columns(root: str) -> list[list]:
    """The :data:`_HISTORY_SCHEMA` columns, one row per committed
    version, straight from the manifests — pure file I/O, shared by
    :func:`history` and the DataSource history read
    (``spark.read.format("txlog").option("history", "true")``)."""
    rows = []
    for v in range(current_version(root) + 1):
        m = _read_manifest(root, v)
        detail = {
            k: m[k]
            for k in (
                "predicate",
                "key_cols",
                "rewrote",
                "carried",
                "probed",
                "compacted_from",
                "cluster_by",
                "zorder_by",
                "restored_from",
                "partition_by",
                "checkpoint",
                "cloned_from",
                "cloned_version",
                "constraint",
                "mode",
                "dv_rows",
                "renamed",
                "dropped_column",
                "writer",
            )
            if k in m
        }
        n_files = m.get("n_files")
        if n_files is None:
            n_files = len(m["files"])
        rows.append(
            (
                v,
                m["op"],
                m["parent"],
                int(n_files),
                json.dumps(detail, sort_keys=True) if detail else None,
                float(m["ts"]),
            )
        )
    return [list(c) for c in zip(*rows)] or [[] for _ in _HISTORY_SCHEMA]


def history(spark: SparkSession, root: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version — operation,
    parent, file count, op-specific detail — straight from the
    manifests (driver-side metadata, bounded by version count)."""
    return _arrow_df(spark, _HISTORY_SCHEMA, _history_columns(root))


def vacuum(
    root: str,
    retain_versions: int = 1,
    retain_hours: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Remove data files referenced by NO manifest newer than
    (current - retain_versions), plus orphaned staging garbage and
    stale temp manifests leaked by crashed writers (.tmp-*.json older
    than ONE HOUR — far beyond any live writer's sub-second
    write->link window; if a pathologically stalled writer is ever
    raced anyway, its commit retries instead of crashing, see
    ``_try_commit``). Returns removed paths; ``dry_run=True`` returns
    the SAME list without deleting anything (the Delta VACUUM DRY RUN
    listing mode).

    Retention contract: ``retain_versions >= 1`` (refused otherwise —
    0 would delete the CURRENT snapshot's files). ``retain_hours``
    ADDITIONALLY keeps every version committed within the window (the
    Delta time-based RETAIN form — size it to your longest-running
    reader); the effective retention is the union of both rules. Time
    travel keeps working for retained versions; an OLDER pinned
    version — or a DataFrame handle resolved before the vacuum — can
    fail mid-scan once its files are gone, exactly Delta's documented
    VACUUM hazard.

    In-flight writer safety (round-12 ADVICE): a writer stages files
    under their final data/ names BEFORE its commit link publishes
    them, so an age-blind sweep could delete files whose commit then
    succeeds — a committed version referencing deleted files,
    permanent corruption. Vacuum therefore distinguishes two kinds of
    unretained file: one referenced by SOME manifest (committed, out
    of retention — removed immediately, any age), and one referenced
    by NO manifest at all, which is either crash garbage or a LIVE
    writer mid-commit — removed only when older than
    ``_TMP_RETAIN_SECS`` (one hour, far beyond any live stage->link
    window; crashed writers' orphans age into eligibility).
    ``.stage-*`` dirs get the same age guard. The reference set is
    also re-extended with any version committed WHILE it was being
    built, closing the TOCTTOU with a racing commit."""
    if retain_versions < 1:
        raise ValueError(
            "retain_versions must be >= 1 (0 would delete the current "
            "snapshot's files out from under every reader)"
        )
    cur = current_version(root)
    keep_from = max(0, cur - retain_versions + 1)
    if retain_hours is not None:
        cutoff = time.time() - retain_hours * 3600
        keep_from_hours = next(
            (
                v
                for v in range(cur + 1)
                if _manifest_meta(root, v)[0] >= cutoff
            ),
            cur,
        )
        keep_from = min(keep_from, keep_from_hours)
    referenced: set[str] = set()
    for v in range(keep_from, cur + 1):
        referenced.update(snapshot_info(root, v)["files"])
    # TOCTTOU close: a commit that landed while we built the set above
    # references files the walk below must not treat as orphans.
    cur2 = current_version(root)
    for v in range(cur + 1, cur2 + 1):
        referenced.update(snapshot_info(root, v)["files"])
    cur = cur2
    # every file ANY manifest ever referenced (full lists + delta add
    # actions): membership separates committed-but-unretained files
    # (safe to remove now) from never-referenced ones (possibly a live
    # writer's staged files — age-guarded below)
    ever: set[str] = set()
    for v in range(cur + 1):
        m = _read_manifest(root, v)
        if _is_full(m):
            ever.update(_load_full(root, m)[0])
        else:
            ever.update(m.get("add", []))
    now = time.time()

    def _young(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) <= _TMP_RETAIN_SECS
        except OSError:
            return True  # vanished/unstattable: leave it alone

    removed = []
    data_dir = os.path.join(root, _DATA)
    for dirpath, dirs, names in os.walk(data_dir, topdown=True):
        for d in list(dirs):
            if d.startswith(".stage-"):
                dirs.remove(d)
                full = os.path.join(dirpath, d)
                if _young(full):
                    continue  # possibly a LIVE writer mid-stage
                if not dry_run:
                    shutil.rmtree(full, ignore_errors=True)
                removed.append(os.path.relpath(full, root))
        for name in names:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            if rel not in referenced:
                if rel not in ever and _young(full):
                    continue  # maybe a LIVE writer's staged file
                if not dry_run:
                    try:
                        os.remove(full)
                    except FileNotFoundError:
                        continue
                removed.append(rel)
    ckpt_refs: set[str] | None = None  # lazy: read only if needed
    dv_refs: set[str] | None = None
    for name in sorted(os.listdir(_log_dir(root))):
        full = os.path.join(_log_dir(root), name)
        if name.startswith(".tmp-") and name.endswith(".json"):
            try:
                if now - os.path.getmtime(full) > _TMP_RETAIN_SECS:
                    if not dry_run:
                        os.remove(full)
                    removed.append(f"{_LOG}/{name}")
            except OSError:
                pass
        elif name.startswith(".ckpt-") and name.endswith(".parquet"):
            # a sidecar not referenced by ANY manifest is an orphan
            # from a crashed/raced checkpoint writer; manifests are
            # never deleted, so referenced sidecars live forever
            try:
                if now - os.path.getmtime(full) <= _TMP_RETAIN_SECS:
                    continue
                if ckpt_refs is None:
                    ckpt_refs = {
                        _read_manifest(root, v).get("files_ref")
                        for v in range(cur + 1)
                    }
                if name not in ckpt_refs:
                    if not dry_run:
                        os.remove(full)
                    removed.append(f"{_LOG}/{name}")
            except OSError:
                pass
        elif name.startswith(".dv-") and name.endswith(".json"):
            # deletion-vector sidecars: same orphan rule as
            # checkpoints — referenced by any manifest => immortal
            # (time travel / CDF may resolve it), else crashed/raced
            # garbage once aged
            try:
                if now - os.path.getmtime(full) <= _TMP_RETAIN_SECS:
                    continue
                if dv_refs is None:
                    dv_refs = set()
                    for v in range(cur + 1):
                        dv_refs.update(
                            _full_dv(root, _read_manifest(root, v)).values()
                        )
                if name not in dv_refs:
                    if not dry_run:
                        os.remove(full)
                    removed.append(f"{_LOG}/{name}")
            except OSError:
                pass
    return removed
