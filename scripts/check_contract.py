"""Driver-mimic correctness check: run every ``queries()`` entry on a
VANILLA SparkSession (no builder configs beyond master) at the given SF
and compare against ``oracle_sql()`` via DuckDB — row count, sorted
column names, and order-insensitive value hash, like the driver does.

Usage: python scripts/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from map_reduce_rpc_spark.tables import TABLE_NAMES  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        key = df.astype(str).apply(lambda r: "\x00".join(r), axis=1)
        df = df.iloc[key.argsort(kind="stable")].reset_index(drop=True)
    h = hashlib.sha256()
    for _, row in df.astype(str).iterrows():
        h.update("\x01".join(row).encode())
    return h.hexdigest()[:16]


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("contract-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    n_pass = n_rows_only = n_fail = 0
    for i, (name, fn) in enumerate(queries.items(), 1):
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "SPARK_ERR", "err": str(e)[:200]}
            n_fail += 1
            print(f"[{i:2d}] {name}: SPARK_ERR {str(e)[:120]}", flush=True)
            continue
        if name not in oracles:
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            n_rows_only += 1
            print(f"[{i:2d}] {name}: rows_only ({len(sdf)} rows, {time.time()-t0:.1f}s)", flush=True)
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "ORACLE_ERR", "err": str(e)[:200]}
            n_fail += 1
            print(f"[{i:2d}] {name}: ORACLE_ERR {str(e)[:120]}", flush=True)
            continue
        cols_ok = sorted(sdf.columns) == sorted(ddf.columns)
        rows_ok = len(sdf) == len(ddf)
        hash_ok = cols_ok and rows_ok and value_hash(sdf) == value_hash(ddf)
        status = "PASS" if (cols_ok and rows_ok and hash_ok) else "FAIL"
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
        results[name] = {
            "status": status,
            "rows": [len(sdf), len(ddf)],
            "cols_ok": cols_ok,
            "hash_ok": hash_ok,
        }
        print(
            f"[{i:2d}] {name}: {status} rows={len(sdf)}/{len(ddf)} "
            f"cols_ok={cols_ok} hash_ok={hash_ok} ({time.time()-t0:.1f}s)",
            flush=True,
        )

    print(json.dumps({"pass": n_pass, "rows_only": n_rows_only, "fail": n_fail}))
    with open("/tmp/contract_check.json", "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
