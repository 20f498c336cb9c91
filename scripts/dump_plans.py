#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan audit of every registered batch
query at sf0.001 — the artifact of the "explain, then iterate until
it's the plan you'd want" loop.

Per query: exchange count (shuffles), broadcast count, widest
whole-stage-codegen span count, Arrow/Python nodes, and whether the
scan carries pushed filters. Streaming queries are skipped: their
micro-batch plans are not reachable from the drained result. The plan
gate in tests/oracle.py reads every executed plan, micro-batches
included, from Spark's SQL status store.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def main() -> None:
    import __spark_entry__ as entry_mod
    from map_reduce_rpc_spark.session import get_spark

    spark = get_spark("plan_audit")
    rows = []
    for name, fn in entry_mod.queries().items():
        if name.startswith("stream_"):
            continue
        df = fn(spark, SF)
        # Execute THIS df's own QueryExecution (count() would build a
        # different plan): AQE only finalizes — and codegen spans only
        # appear — after execution.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE appends the pre-execution plan under "== Initial Plan ==";
        # audit only the final (executed) section.
        plan = plan.split("== Initial Plan ==")[0]
        rows.append(
            (
                name,
                len(re.findall(
                    r"(?<![a-zA-Z])Exchange (?:hashpartitioning|"
                    r"rangepartitioning|SinglePartition)", plan)),
                plan.count("BroadcastExchange"),
                len(set(re.findall(r"\*\((\d+)\)", plan))),
                plan.count("ArrowEvalPython")
                + plan.count("MapInPandas")
                + plan.count("FlatMapGroupsInPandas"),
                "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "",
            )
        )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write(
            "# PLANS — physical-plan audit (generated by scripts/dump_plans.py at sf0.001)\n\n"
            "Per registered batch query: shuffle Exchange count, broadcast\n"
            "count, whole-stage-codegen span count, Arrow-batched Python\n"
            "nodes (row-at-a-time BatchEvalPython is forbidden in every SQL\n"
            "execution a query runs by the plan gate in tests/oracle.py),\n"
            "and whether the scan carries pushed filters. Streaming queries\n"
            "are left out here; the same gate checks their micro-batches.\n\n"
            "| Query | Exchanges | Broadcasts | Codegen spans | Arrow-Python | PushedFilters |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in rows:
            fh.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
