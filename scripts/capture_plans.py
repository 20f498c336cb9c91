#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/$SPARK_GRAFT_PLANS_TAG/ (default r15).

Usage: python scripts/capture_plans.py before q1 q2 ...
       python scripts/capture_plans.py after q1 q2 ...

Writes plans/<round>/<query>_<tag>.txt — the optimization round's
plan-claim evidence (the judge diffs these against OPTIMIZATION_r<N>.md
claims). Batch queries only. Every plan a query executes, streaming
micro-batches included, is readable from Spark's SQL status store
through ``map_reduce_rpc_spark.session.executions_since``; the plan
gate in tests/oracle.py reads it there.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_TAG", "r15")
)


def main() -> None:
    import __spark_entry__ as entry_mod
    from map_reduce_rpc_spark.session import get_spark

    tag = sys.argv[1]
    names = sys.argv[2:]
    qs = entry_mod.queries()
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            formatted = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(formatted)
            print(f"wrote {path}")
        except Exception as exc:
            print(f"{name}: ERROR {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
