"""The one commit skeleton: every txlog writer commits through
``txlog._transact``, which owns the parent snapshot, the optimistic
retry loop and its bound.

- a structural guard (AST only) pins the single choke point, and keeps
  the skeleton free of a SparkSession;
- a DataSource commit into an unconstrained table builds no session;
- every writer gives up after ``_MAX_COMMIT_RETRIES`` lost claims
  without moving the table;
- every verb that had no race test re-derives its change on the parent
  a concurrent append created."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_rpc_spark.sources import txlog, txlog_source

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "map_reduce_rpc_spark",
    "sources",
)


def _enclosing_defs(path: str):
    """(function name, node) for every node, by its nearest enclosing
    top-level def."""
    tree = ast.parse(open(path).read())
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
            for node in ast.walk(top):
                yield top.name, node


def test_one_commit_choke_point():
    callers, retry_loops = set(), []
    for name in ("txlog.py", "txlog_source.py"):
        for fn, node in _enclosing_defs(os.path.join(SOURCES, name)):
            if isinstance(node, ast.Call):
                f = node.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if called == "_commit_version":
                    callers.add(fn)
            if (
                isinstance(node, ast.For)
                and isinstance(node.target, ast.Name)
                and node.target.id == "_"
                and isinstance(node.iter, ast.Call)
                and getattr(node.iter.func, "id", None) == "range"
            ):
                retry_loops.append(f"{name}:{fn}:{node.lineno}")
    assert callers == {"_transact", "create_table", "clone_table"}, callers
    assert len(retry_loops) == 1 and ":_transact:" in retry_loops[0], retry_loops

    # the skeleton reads manifests only: no SparkSession goes in
    tree = ast.parse(open(os.path.join(SOURCES, "txlog.py")).read())
    tops = {n.name: n for n in tree.body if hasattr(n, "name")}
    init = next(n for n in tops["_Parent"].body if getattr(n, "name", "") == "__init__")
    for fn in (tops["_transact"], init):
        params = fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
        assert "spark" not in [a.arg for a in params], fn.name
        assert "SparkSession" not in ast.dump(fn.args), fn.name
    # and the one place under sources/ that may build a session is the
    # DataSource commit's CHECK validation
    builders = set()
    for name in sorted(os.listdir(SOURCES)):
        if name.endswith(".py"):
            mod = ast.parse(open(os.path.join(SOURCES, name)).read())
            for top in mod.body:
                for node in ast.walk(top):
                    if isinstance(node, ast.Attribute) and node.attr == "getOrCreate":
                        builders.add(f"{name}:{getattr(top, 'name', '<module>')}")
    assert builders == {"txlog_source.py:_commit_rels"}, builders


def test_unconstrained_datasource_commit_builds_no_session(spark, tmp_path, monkeypatch):
    """Spark runs a DataSource commit in a separate Python process where
    no session is active; a session built there is a second local
    Spark JVM. Into a table with no CHECK constraint the commit reads
    only manifests and footers, so it needs none."""
    from pyspark.sql import SparkSession

    root = str(tmp_path / "tx")
    txlog.create_table(spark, root, _rows(spark, 0, 10))
    df = _rows(spark, 10, 13)
    rels = txlog._stage_files(spark, root, df)

    def refuse(*_a, **_k):
        raise AssertionError("the commit built a SparkSession")

    monkeypatch.setattr(SparkSession, "getActiveSession", refuse)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", refuse)
    txlog_source._commit_rels(root, df.schema.json(), {"map": {}, "retired": []}, rels)
    monkeypatch.undo()
    assert txlog.current_version(root) == 1
    assert txlog.read_table(spark, root).count() == 13


# ---------------------------------------------------------------------------
# the retry bound
# ---------------------------------------------------------------------------


def _rows(spark, lo: int, hi: int, bucket: int = 1):
    return spark.range(lo, hi).select(F.col("id"), F.lit(bucket).alias("bucket"))


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    """Two files and one constraint; the retry-bound cases never move
    it, so every case shares it."""
    root = str(tmp_path_factory.mktemp("transact") / "tx")
    txlog.create_table(spark, root, _rows(spark, 0, 10))
    txlog.append(spark, root, _rows(spark, 10, 15))
    txlog.add_constraint(spark, root, "pos", "id >= 0")
    return root


def _datasource_write(spark, root):
    """The DataSource writer's driver-side commit, called in-process (a
    real ``df.write.format("txlog")`` commits from a Python worker that
    a monkeypatch here cannot reach)."""
    df = _rows(spark, 200, 203)
    rels = txlog._stage_files(spark, root, df)
    txlog_source._commit_rels(
        root, df.schema.json(), {"map": {}, "retired": []}, rels
    )


# one case per writer (the loop is shared by every mode; delete takes the
# cow probe, update the dv one). Each body is cheap per attempt:
# predicates match nothing and the merge key falls outside every file's
# key range, so a retry launches at most one small job (optimize
# rewrites two tiny files).
WRITERS = {
    "append": lambda s, r: txlog.append(s, r, _rows(s, 100, 101)),
    "merge": lambda s, r: txlog.merge(s, r, _rows(s, 100, 101), ("id",)),
    "delete_where": lambda s, r: txlog.delete_where(s, r, "id < 0"),
    "update_where": lambda s, r: txlog.update_where(s, r, {"bucket": "2"}, "id < 0", mode="dv"),
    "optimize": lambda s, r: txlog.optimize(s, r),
    "add_constraint": lambda s, r: txlog.add_constraint(s, r, "b", "bucket > 0"),
    "drop_constraint": lambda s, r: txlog.drop_constraint(s, r, "pos"),
    "rename_column": lambda s, r: txlog.rename_column(s, r, "bucket", "bkt"),
    "drop_column": lambda s, r: txlog.drop_column(s, r, "bucket"),
    "restore": lambda s, r: txlog.restore(s, r, 0),
    "datasource_write": _datasource_write,
}


@pytest.mark.parametrize("writer", list(WRITERS))
def test_writer_gives_up_after_retry_bound(spark, tiny, writer, monkeypatch):
    before = txlog.current_version(tiny)
    claims = []

    def lose(root, version, manifest):
        claims.append(version)
        return False

    validations = []
    validate = txlog._validate_constraints

    def counted(df, cons):
        validations.append(sorted(cons))
        validate(df, cons)

    monkeypatch.setattr(txlog, "_try_commit", lose)
    monkeypatch.setattr(txlog, "_validate_constraints", counted)
    with pytest.raises(RuntimeError, match="lost 20 commit races"):
        WRITERS[writer](spark, tiny)
    assert claims == [before + 1] * txlog._MAX_COMMIT_RETRIES
    assert txlog.current_version(tiny) == before
    if writer == "datasource_write":
        # the written files never change across attempts: one check
        assert validations == [["pos"]]


# ---------------------------------------------------------------------------
# a concurrent append lands before the verb's first claim
# ---------------------------------------------------------------------------


def _race_one_append(spark, root, monkeypatch, rows):
    """Patch the claim so the first one any verb makes on ``root``
    first lets a concurrent append of ``rows`` win that version."""
    orig = txlog._try_commit
    state = {"raced": False}

    def racing(r, version, manifest):
        if not state["raced"] and r == root:
            state["raced"] = True
            monkeypatch.setattr(txlog, "_try_commit", orig)
            txlog.append(spark, root, rows)
        return orig(r, version, manifest)

    monkeypatch.setattr(txlog, "_try_commit", racing)
    return state


def _ids(spark, root):
    return sorted(r["id"] for r in txlog.read_table(spark, root).collect())


RACED = list(range(20, 25))  # the concurrent append's ids, bucket 9


def _check_delete_cow(spark, root):
    assert _ids(spark, root) == [i for i in range(15) if i % 2] + RACED[1::2]


def _check_merge_dv(spark, root):
    got = sorted(tuple(r) for r in txlog.read_table(spark, root).collect())
    assert got == [(i, 1) for i in range(15)] + [(i, 5) for i in RACED]


def _check_optimize(spark, root):
    v = txlog.current_version(root)
    raced_parent = txlog.snapshot_info(root, v - 1)["files"]
    assert txlog._read_manifest(root, v)["compacted_from"] == len(raced_parent)
    assert len(txlog.snapshot_info(root, v)["files"]) == 1
    assert _ids(spark, root) == list(range(15)) + RACED


def _check_drop_constraint(spark, root):
    assert txlog.constraints(root) == {}
    assert _ids(spark, root) == list(range(15)) + RACED


def _check_rename_column(spark, root):
    got = txlog.read_table(spark, root)
    assert got.columns == ["id", "bkt"]
    assert got.where("bkt = 9").count() == len(RACED)


def _check_drop_column(spark, root):
    got = txlog.read_table(spark, root)
    assert got.columns == ["id"]
    assert _ids(spark, root) == list(range(15)) + RACED


def _check_restore(spark, root):
    assert _ids(spark, root) == list(range(10))


RACES = {
    "delete_cow": (lambda s, r: txlog.delete_where(s, r, "id % 2 = 0"), _check_delete_cow),
    "merge_dv": (
        lambda s, r: txlog.merge(s, r, _rows(s, 20, 25, bucket=5), ("id",), mode="dv"),
        _check_merge_dv,
    ),
    "optimize": (lambda s, r: txlog.optimize(s, r), _check_optimize),
    "drop_constraint": (lambda s, r: txlog.drop_constraint(s, r, "pos"), _check_drop_constraint),
    "rename_column": (lambda s, r: txlog.rename_column(s, r, "bucket", "bkt"), _check_rename_column),
    "drop_column": (lambda s, r: txlog.drop_column(s, r, "bucket"), _check_drop_column),
    "restore": (lambda s, r: txlog.restore(s, r, 0), _check_restore),
}


@pytest.mark.parametrize("verb", list(RACES))
def test_verb_rebuilds_on_raced_parent(spark, tmp_path, verb, monkeypatch):
    root = str(tmp_path / "tx")
    txlog.create_table(spark, root, _rows(spark, 0, 10))
    txlog.append(spark, root, _rows(spark, 10, 15))
    if verb == "drop_constraint":
        txlog.add_constraint(spark, root, "pos", "id >= 0")
    parent = txlog.current_version(root)
    run, check = RACES[verb]
    state = _race_one_append(spark, root, monkeypatch, _rows(spark, 20, 25, bucket=9))
    assert run(spark, root) == parent + 2  # parent + 1 went to the racing append
    assert state["raced"]
    check(spark, root)
