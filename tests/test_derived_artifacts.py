"""Derived on-disk artifacts and in-process caches: one owner, keyed on
source content.

``tables.derived_cache_dir`` and ``tables.scratch_dir`` are the only
places the engine names a path under /tmp; caches must follow the
source table's content, not the directory string it was read from."""

from __future__ import annotations

import glob
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from map_reduce_rpc_spark import tables
from map_reduce_rpc_spark.tables import load_table

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "map_reduce_rpc_spark"
)


def test_only_tables_module_names_tmp_paths():
    offenders = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        if os.path.relpath(path, PKG) == "tables.py":
            continue
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if re.search(r"""["']/tmp\b""", line):
                    offenders.append(f"{os.path.relpath(path, PKG)}:{n}: {line.strip()}")
    assert not offenders, "route through tables.derived_cache_dir / scratch_dir:\n" + (
        "\n".join(offenders)
    )


def test_derived_cache_dir_clears_leftover_build_dir(tmp_path):
    """A build dir left behind by a crashed builder whose pid was
    recycled must not leak into (or break) the next build."""
    sf = str(tmp_path)
    tag = tables.source_fingerprint(sf, ())[:12]
    path = f"{tables._CACHE_ROOT}/spark_graft_selftest_{tag}"
    stale = f"{path}.build.{os.getpid()}"
    os.makedirs(stale)
    open(os.path.join(stale, "torn.parquet"), "w").close()

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    try:
        assert tables.derived_cache_dir(sf, "selftest", (), build) == path
        assert sorted(os.listdir(path)) == ["_SUCCESS"]
        assert not os.path.exists(stale)
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)


def test_scratch_dir_reaps_dead_pids_and_clears_own(tmp_path):
    sf = str(tmp_path)
    own = tables.scratch_dir("selftest", sf)
    dead = own[: -len(str(os.getpid()))] + "999999999"  # above any pid_max
    for d in (own, dead):
        os.makedirs(d)
        open(os.path.join(d, "old"), "w").close()
    try:
        assert tables.scratch_dir("selftest", sf) == own
        assert not os.path.exists(own) and not os.path.exists(dead)
    finally:
        shutil.rmtree(own, ignore_errors=True)
        shutil.rmtree(dead, ignore_errors=True)


def test_centroid_cache_follows_source_content(spark, sf_dir, tmp_path):
    """Rewriting embeddings.parquet in place must refit, not serve the
    centroids cached for the previous rows under the same sf_dir."""
    from map_reduce_rpc_spark.plans import vectors

    sf = str(tmp_path)
    shutil.copytree(sf_dir, sf, dirs_exist_ok=True)

    def fit():
        emb = load_table(spark, sf, "embeddings")
        return vectors._fit_centroids(emb, sf, vectors.KMEANS_K, vectors.KMEANS_ITERS)

    before = fit()
    src = os.path.join(sf, "embeddings.parquet")
    t = pq.read_table(src)
    field = t.schema.field("embedding")
    flipped = pa.array([[-x for x in v] for v in t["embedding"].to_pylist()], field.type)
    pq.write_table(t.set_column(t.schema.get_field_index("embedding"), field, flipped), src)
    after = fit()
    assert after != before


def test_replay_dir_follows_source_content(spark, sf_dir, tmp_path):
    """In one process, a replay dir built before events.parquet was
    rewritten must not be served after it."""
    from map_reduce_rpc_spark.streaming import core

    sf = str(tmp_path)
    shutil.copytree(sf_dir, sf, dirs_exist_ok=True)
    first = core.build_replay_dir(spark, sf)
    src = os.path.join(sf, "events.parquet")
    t = pq.read_table(src)
    pq.write_table(t.slice(0, t.num_rows // 2), src)
    second = core.build_replay_dir(spark, sf)
    try:
        got = pq.read_metadata(os.path.join(second, "chunk0.parquet")).num_rows
        assert got == t.num_rows // 2
    finally:
        for d in {first, second}:
            shutil.rmtree(d, ignore_errors=True)
