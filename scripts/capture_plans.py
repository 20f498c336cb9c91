#!/usr/bin/env python
"""Capture the executed plans of named queries into plans/$SPARK_GRAFT_PLANS_TAG/ (default r15).

Usage: python scripts/capture_plans.py before q1 q2 ...
       python scripts/capture_plans.py after q1 q2 ...

Runs each query's ``.count()`` and writes every physical plan it
executed, read back from Spark's SQL status store
(``map_reduce_rpc_spark.session.executions_since``), to
plans/<round>/<query>_<tag>.txt: AQE's final plans, every intermediate
action and every streaming micro-batch, oldest first. These files are
the before/after evidence for a plan claim.
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
    from map_reduce_rpc_spark.session import executions_since, get_spark, last_execution_id

    tag = sys.argv[1]
    names = sys.argv[2:]
    qs = entry_mod.queries()
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        try:
            mark = last_execution_id(spark)
            qs[name](spark, SF_DIR).count()
            plans = [
                f"== execution {eid}: {desc} ==\n{plan}\n"
                for eid, desc, plan in executions_since(spark, mark)
            ]
            path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write("\n".join(plans))
            print(f"wrote {path} ({len(plans)} executions)")
        except Exception as exc:
            print(f"{name}: ERROR {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
