"""Model-based test of the transaction log: a random sequence of
append / merge / delete / optimize / restore commits is applied both
to the real txlog table and to a pure-Python dict model
{id -> bucket}; after EVERY commit the table must equal the model,
and at the end every historical version must STILL equal the model's
recorded history (snapshot isolation holds retroactively — later
commits never disturb earlier snapshots).

This is the state-machine complement of tests/test_txlog.py's
scenario tests: those pin each verb's contract in isolation; this one
hunts interaction bugs (merge-after-restore, delete-after-optimize,
stats carried across mixed chains) that no hand-written scenario
enumerates. Deterministic op sequence via a seeded RNG — hypothesis'
stateful machinery would re-run Spark jobs per shrink attempt, far
too slow; one seeded 14-op chain covers every ordered verb pair we
care about and stays ~1 min.
"""

from __future__ import annotations

import random

import pytest

from map_reduce_rpc_spark.sources import sql_dml, txlog
from map_reduce_rpc_spark.sources.logstore import (
    ConditionalPutLogStore,
    PosixLogStore,
)


@pytest.fixture(params=["posix", "condput"])
def log_store(request):
    """Run the state machine under BOTH commit backends (round-12
    LogStore abstraction): the hard-link POSIX protocol and the
    simulated object-store conditional PUT. Identical results prove
    the transaction protocol never relied on hard links."""
    store = (
        PosixLogStore()
        if request.param == "posix"
        else ConditionalPutLogStore()
    )
    prev = txlog.set_log_store(store)
    yield store
    txlog.set_log_store(prev)


def _as_dict(df) -> dict[int, int]:
    return {int(r["id"]): int(r["bucket"]) for r in df.collect()}


def test_txlog_matches_model_under_random_op_chain(
    spark, tmp_path, log_store
):
    rng = random.Random(20260815)
    root = str(tmp_path / "tx")

    model: dict[int, int] = {i: i % 10 for i in range(200)}
    txlog.create_table(
        spark,
        root,
        spark.createDataFrame(
            [(k, v) for k, v in model.items()], ["id", "bucket"]
        ).repartition(3),
    )
    history: dict[int, dict[int, int]] = {0: dict(model)}
    next_id = 1000

    def frame(rows: dict[int, int]):
        return spark.createDataFrame(
            [(k, v) for k, v in rows.items()], ["id", "bucket"]
        )

    from map_reduce_rpc_spark.sources import txlog_source

    txlog_source.register(spark)

    ops = [
        "append",
        "merge",
        "delete",
        "dv_delete",
        "update",
        "optimize",
        "restore",
        "sql_append",
        "sql_overwrite",
        "dv_update",
        # round-14 SQL-TEXT surface interleaved with everything else:
        # the string front-end (sources/sql_dml.py) and the DSv2
        # INSERT INTO routing must be indistinguishable from the
        # library verbs in the log AND under snapshot isolation
        "sql_text_delete",
        "sql_text_update",
        "sql_text_merge",
        "sql_text_insert",
    ]
    for step in range(24):
        op = ops[step % len(ops)] if step < len(ops) else rng.choice(ops)
        if op == "append":
            rows = {next_id + i: rng.randrange(10) for i in range(25)}
            next_id += 25
            v = txlog.append(spark, root, frame(rows))
            model.update(rows)
        elif op == "merge":
            existing = rng.sample(sorted(model), k=min(20, len(model)))
            rows = {k: -1 - step for k in existing}
            rows.update({next_id + i: -1 - step for i in range(5)})
            next_id += 5
            v = txlog.merge(spark, root, frame(rows), ("id",))
            model.update(rows)
        elif op == "delete":
            b = rng.randrange(10)
            v = txlog.delete_where(spark, root, f"bucket = {b}")
            model = {k: x for k, x in model.items() if x != b}
        elif op == "dv_delete":
            # merge-on-read: same logical contract as delete, zero
            # files rewritten (round-12 deletion vectors)
            b = rng.randrange(10)
            v = txlog.delete_where(
                spark, root, f"bucket = {b}", mode="dv"
            )
            model = {k: x for k, x in model.items() if x != b}
        elif op == "update":
            # round-14 UPDATE verb: cow rewrite of the matched files
            b = rng.randrange(10)
            v = txlog.update_where(
                spark, root, {"bucket": "bucket + 100"}, f"bucket = {b}"
            )
            model = {
                k: (x + 100 if x == b else x) for k, x in model.items()
            }
        elif op == "dv_update":
            # merge-on-read UPDATE: dv the old images, append the new
            b = rng.randrange(10)
            v = txlog.update_where(
                spark,
                root,
                {"bucket": "bucket - 7"},
                f"bucket = {b}",
                mode="dv",
            )
            model = {
                k: (x - 7 if x == b else x) for k, x in model.items()
            }
        elif op == "optimize":
            v = txlog.optimize(
                spark, root, target_file_bytes=16 << 10, cluster_by=("id",)
            )
            # logical no-op
        elif op == "sql_append":
            # the DataSource write path interleaved with library verbs
            # (round-13: df.write.format("txlog") must be
            # indistinguishable from txlog.append in the log)
            rows = {next_id + i: rng.randrange(10) for i in range(15)}
            next_id += 15
            (
                frame(rows)
                .write.format("txlog")
                .option("path", root)
                .mode("append")
                .save()
            )
            v = txlog.current_version(root)
            model.update(rows)
        elif op == "sql_overwrite":
            # atomic wholesale replace through the format name: the
            # model swaps entirely; prior versions must STILL read
            # back exactly (checked by the retroactive loop below),
            # including across deletion vectors the replace buried
            rows = {next_id + i: rng.randrange(10) for i in range(30)}
            next_id += 30
            (
                frame(rows)
                .write.format("txlog")
                .option("path", root)
                .mode("overwrite")
                .save()
            )
            v = txlog.current_version(root)
            model = dict(rows)
        elif op == "sql_text_delete":
            b = rng.randrange(10)
            v = sql_dml.sql(
                spark, f"DELETE FROM `{root}` WHERE bucket = {b}"
            )
            model = {k: x for k, x in model.items() if x != b}
        elif op == "sql_text_update":
            b = rng.randrange(10)
            v = sql_dml.sql(
                spark,
                f"UPDATE `{root}` SET bucket = bucket + 50 "
                f"WHERE bucket = {b}",
            )
            model = {
                k: (x + 50 if x == b else x) for k, x in model.items()
            }
        elif op == "sql_text_merge":
            existing = rng.sample(sorted(model), k=min(10, len(model)))
            rows = {k: -500 - step for k in existing}
            rows.update({next_id + i: -500 - step for i in range(5)})
            next_id += 5
            frame(rows).createOrReplaceTempView("model_merge_src")
            v = sql_dml.sql(
                spark,
                f"MERGE INTO `{root}` USING model_merge_src ON id",
            )
            model.update(rows)
        elif op == "sql_text_insert":
            rows = {next_id + i: rng.randrange(10) for i in range(10)}
            next_id += 10
            frame(rows).createOrReplaceTempView("model_insert_src")
            spark.sql(
                "CREATE OR REPLACE TEMPORARY VIEW model_tv "
                f"USING txlog OPTIONS (path '{root}')"
            )
            spark.sql(
                "INSERT INTO model_tv SELECT * FROM model_insert_src"
            )
            v = txlog.current_version(root)
            model.update(rows)
        else:  # restore
            target = rng.randrange(0, txlog.current_version(root) + 1)
            v = txlog.restore(spark, root, target)
            model = dict(history[target])
        assert v == txlog.current_version(root)
        got = _as_dict(txlog.read_table(spark, root))
        assert got == model, f"step {step} ({op}): table != model"
        history[v] = dict(model)

    # retroactive snapshot isolation: every version still reads as the
    # state the model had when that version committed
    for v, snap in history.items():
        got = _as_dict(txlog.read_table(spark, root, version=v))
        assert got == snap, f"version {v} drifted after later commits"

    # the change feed replayed over v0 reproduces the final state
    cdf = txlog.read_changes(spark, root, from_version=0)
    ins = _as_dict(
        txlog.read_table(spark, root, version=0).unionByName(
            cdf.where("_change_type = 'insert'").select("id", "bucket")
        ).exceptAll(
            cdf.where("_change_type = 'delete'").select("id", "bucket")
        )
    )
    assert ins == model, "CDF replay over v0 != final state"


def test_txlog_matches_model_partitioned_checkpointed(
    spark, tmp_path, log_store
):
    """Round-11 surface under the same state-machine harness: a HIVE-
    PARTITIONED table with a 3-commit checkpoint cadence (so the chain
    crosses several delta->checkpoint boundaries), a TYPE WIDENING
    mid-chain, and a CLONE taken mid-chain that must stay frozen (and
    alive) while the source keeps committing and finally vacuums.
    After every commit: full read == model AND a partition-pruned read
    == the model filtered to that partition."""
    rng = random.Random(20260816)
    root = str(tmp_path / "tx")
    clone_root = str(tmp_path / "clone")

    model: dict[int, int] = {i: i % 5 for i in range(200)}
    txlog.create_table(
        spark,
        root,
        spark.createDataFrame(
            [(k, v) for k, v in model.items()], ["id", "bucket"]
        ).selectExpr("CAST(id AS INT) id", "CAST(bucket AS INT) bucket"),
        partition_by=("bucket",),
        checkpoint_every=3,
    )
    history: dict[int, dict[int, int]] = {0: dict(model)}
    next_id = 1000
    clone_state: dict[int, int] | None = None

    def frame(rows: dict[int, int], widened: bool):
        df = spark.createDataFrame(
            [(k, v) for k, v in rows.items()], ["id", "bucket"]
        )
        if not widened:
            df = df.selectExpr("CAST(id AS INT) id", "CAST(bucket AS INT) bucket")
        return df

    widened = False
    # dv_delete at step 7 exercises merge-on-read against the
    # partitioned + checkpoint_every=3 + widened + restored chain
    ops = ["append", "merge", "delete", "widen", "update", "append",
           "merge", "restore", "dv_delete", "merge", "dv_update",
           "append", "optimize", "merge"]
    for step, op in enumerate(ops):
        if op == "append":
            rows = {next_id + i: rng.randrange(5) for i in range(20)}
            next_id += 20
            v = txlog.append(spark, root, frame(rows, widened))
            model.update(rows)
        elif op == "widen":
            # bucket int -> long as an evolution commit; model unchanged
            rows = {next_id + i: rng.randrange(5) for i in range(10)}
            next_id += 10
            v = txlog.append(
                spark, root, frame(rows, True), merge_schema=True
            )
            model.update(rows)
            widened = True
            assert (
                dict(txlog.read_table(spark, root).dtypes)["bucket"]
                == "bigint"
            )
        elif op == "merge":
            existing = rng.sample(sorted(model), k=min(15, len(model)))
            rows = {k: 4 for k in existing}
            rows.update({next_id + i: 3 for i in range(5)})
            next_id += 5
            v = txlog.merge(spark, root, frame(rows, widened), ("id",))
            model.update(rows)
        elif op == "delete":
            b = rng.randrange(5)
            v = txlog.delete_where(spark, root, f"bucket = {b}")
            model = {k: x for k, x in model.items() if x != b}
        elif op == "dv_delete":
            b = rng.randrange(5)
            v = txlog.delete_where(
                spark, root, f"bucket = {b}", mode="dv"
            )
            model = {k: x for k, x in model.items() if x != b}
        elif op == "update":
            # UPDATE of the PARTITION column: matched rows must move
            # to the new hive directory and pruned reads must follow
            b = rng.randrange(5)
            v = txlog.update_where(
                spark, root, {"bucket": "bucket + 1"}, f"bucket = {b}"
            )
            model = {
                k: (x + 1 if x == b else x) for k, x in model.items()
            }
        elif op == "dv_update":
            b = rng.randrange(5)
            v = txlog.update_where(
                spark,
                root,
                {"bucket": "bucket + 1"},
                f"bucket = {b}",
                mode="dv",
            )
            model = {
                k: (x + 1 if x == b else x) for k, x in model.items()
            }
        elif op == "optimize":
            v = txlog.optimize(
                spark, root, target_file_bytes=16 << 10
            )
        else:  # restore
            target = rng.randrange(0, txlog.current_version(root) + 1)
            v = txlog.restore(spark, root, target)
            model = dict(history[target])
            widened = (
                dict(txlog.read_table(spark, root).dtypes)["bucket"]
                == "bigint"
            )
        assert v == txlog.current_version(root)
        got = _as_dict(txlog.read_table(spark, root))
        assert got == model, f"step {step} ({op}): table != model"
        # partition-pruned read == model filtered to that partition
        b = rng.randrange(5)
        pruned = _as_dict(
            txlog.read_table(spark, root, partitions={"bucket": b})
        )
        assert pruned == {k: x for k, x in model.items() if x == b}, (
            f"step {step} ({op}): partition read != model[bucket={b}]"
        )
        history[v] = dict(model)
        if step == 5:  # mid-chain clone
            txlog.clone_table(spark, root, clone_root)
            clone_state = dict(model)

    # every historical version still reads as its recorded state
    for v, snap in history.items():
        assert _as_dict(txlog.read_table(spark, root, version=v)) == snap

    # the clone stayed frozen through 6 more source commits...
    assert _as_dict(txlog.read_table(spark, clone_root)) == clone_state
    # ...and survives a source vacuum that removes shared file names
    txlog.vacuum(root, retain_versions=1)
    assert _as_dict(txlog.read_table(spark, clone_root)) == clone_state
    assert _as_dict(txlog.read_table(spark, root)) == model
