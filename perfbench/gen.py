"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``tables.TABLE_NAMES``, one
``<name>.parquet`` each) plus the lakehouse workload's mutation list.
The schemas, value domains and text lengths follow the engine's test
data (TESTDATA.md): a TPC-H-like star schema, an events log, a document
corpus of 8-100 words per document (the test corpus has 44-577
characters) with near-duplicates, and clustered embeddings.

Every value and every row order is drawn from ``numpy`` generators
seeded by ``seed``, so one seed always gives byte-identical files and
two seeds give different ones. ``scale`` multiplies the row counts of
the sf0.01 relational and events tables (``scale=1`` is 60,000
lineitems). The corpus tables keep the sf0.1 test data's row counts at
every scale: below that, the text and vector operators spend most of
their action time outside the executors.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Row counts at scale=1, the sf0.01 test tables.
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
# Fixed row counts of the corpus tables, those of the sf0.1 test data.
CORPUS_ROWS = {"documents": 5000, "embeddings": 2000}

EPOCH_DAY_1995 = 9131  # 1995-01-01 as days since 1970-01-01
US_PER_DAY = 86_400_000_000
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _rows(name: str, scale: float) -> int:
    return max(10, int(round(BASE_ROWS[name] * scale)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _permuted(rng: np.random.Generator, cols: dict) -> pa.Table:
    """The table with its rows in a seeded order: the engine must not
    depend on the physical order its inputs arrive in."""
    t = pa.table(cols)
    return t.take(pa.array(rng.permutation(t.num_rows)))


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(8, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # ~5% near-duplicates: an earlier document's text with a marker word
    # appended, the shape the dedup operators are built to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, dim))
    vecs = centroids[labels] * 0.35 + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1) * dim, pa.int32()), flat
        ),
        "label": pa.array(labels, pa.int32()),
    }


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (_rows(t, scale) for t in ("customer", "supplier", "part"))
    n_ord, n_li, n_ev = (_rows(t, scale) for t in ("orders", "lineitem", "events"))
    n_doc, n_emb = CORPUS_ROWS["documents"], CORPUS_ROWS["embeddings"]
    out = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": _day_ts(EPOCH_DAY_1995 + rng.integers(0, 2404, n_ord)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
            "l_shipdate": _day_ts(EPOCH_DAY_1995 + 1 + rng.integers(0, 2498, n_li)),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                EVENTS_START_US + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    # events keep their time order: a log is appended in time order
    return {
        name: pa.table(cols) if name == "events" else _permuted(rng, cols)
        for name, cols in out.items()
    }


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table.replace_schema_metadata(None),
        path,
        compression="snappy",
        row_group_size=1 << 22,
        write_statistics=True,
    )


def write_lakehouse_plan(orders: pa.Table, out: str, seed: int, rounds: int) -> None:
    """The lakehouse mutation list: per round a copy-on-write merge and
    delete, an append, a deletion-vector merge and a deletion-vector
    update. Merge batches reprice existing orders (each key is merged at
    most once, so every merge changes its rows) and insert new keys;
    appends insert new keys. Batches go to parquet files beside ``plan.json``,
    which names them and holds the predicates and assignments."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out)
    n = orders.num_rows
    by_key = orders.take(pa.array(np.argsort(orders.column("o_orderkey").to_numpy())))
    merge_keys = iter(rng.permutation(n))
    n_upd, n_new = max(2, n // 50), max(1, n // 100)
    next_key = n

    def new_rows() -> pa.Table:
        nonlocal next_key
        rows = by_key.take(pa.array(rng.integers(0, n, n_new)))
        keys = np.arange(next_key, next_key + n_new)
        next_key += n_new
        return rows.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))

    def batch(name: str, table: pa.Table) -> str:
        _write(table, os.path.join(out, f"{name}.parquet"))
        return f"{name}.parquet"

    plan = []
    for r in range(rounds):
        step = {}
        for verb in ("merge_cow", "merge_dv"):
            upd = by_key.take(pa.array([next(merge_keys) for _ in range(n_upd)]))
            price = pc.add(upd.column("o_totalprice"), pa.array(rng.integers(1, 100_000, n_upd) / 100))
            upd = upd.set_column(3, "o_totalprice", price)
            step[verb] = batch(f"r{r}_{verb}", pa.concat_tables([upd, new_rows()]))
        step["append"] = batch(f"r{r}_append", new_rows())
        m = int(rng.integers(23, 41))
        step["delete_cow"] = f"o_orderkey % {m} = {int(rng.integers(0, m))} AND o_orderstatus <> 'P'"
        m = int(rng.integers(17, 31))
        step["update_dv"] = {
            "set": {
                "o_totalprice": f"o_totalprice + {int(rng.integers(1, 1000)) / 100:.2f}",
                "o_orderpriority": "'1-URGENT'",
            },
            "where": f"o_custkey % {m} = {int(rng.integers(0, m))}",
        }
        plan.append(step)
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump({"rounds": plan}, fh, indent=1, sort_keys=True)


def generate(out_dir: str, seed: int, scale: float, rounds: int) -> str:
    """Write every table and, under ``out_dir/lakehouse``, the lakehouse
    mutation list; return the input fingerprint, a SHA-256 over
    the names and bytes of every file written."""
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, scale)
    for name, table in tabs.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    write_lakehouse_plan(tabs["orders"], os.path.join(out_dir, "lakehouse"), seed, rounds)
    return fingerprint(out_dir)


def fingerprint(out_dir: str) -> str:
    digest = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(out_dir):
        dirnames.sort()
        for f in sorted(filenames):
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                digest.update(os.path.relpath(path, out_dir).encode() + b"\0" + fh.read())
    return digest.hexdigest()[:16]
