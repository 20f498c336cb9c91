#!/usr/bin/env python
"""sf1 full-registry bench checkpoint (round-7 verdict item 5).

The scale ladder (scripts/scale_ladder.py) stops at sf0.1 and the
sf1 soaks cover only headline families; this script closes the gap:

1. Build a 10x replica of the sf0.1 testdata at /tmp/spark_graft_sf1
   — the soak scripts' strided-key recipe extended to EVERY table:
   fact keys strided far above the sf0.1 domain (more orders/events/
   docs against the same dimensions — the realistic growth axis),
   dimensions kept at original cardinality. events stride BOTH
   event_id and user_id (10x users with unchanged per-user activity,
   so session/window work scales by user count, not by partition
   depth).

   Copies must NOT be near-duplicates of their originals: the first
   replica build used a tiny perturbation (one suffix token / +1e-4
   embedding shift), which made every item a 10-clique in the dup
   graph — 45 extra pairs per original, a QUADRATIC pair term that
   natural 10x growth does not have (measured: embedding_near_dups
   exp 1.38, semantic_dedup 1.15; the pair stages are output-bound,
   so the replica, not the plan, was superlinear). Fix: copy i
   rotates each embedding by i positions (norm- and distribution-
   preserving, cosine to the original ~0) and stride-permutes each
   document's tokens with a per-copy prime (token multiset and
   length preserved, n-gram shingle sets ~disjoint), so dup density
   per item stays at its sf0.1 level.
2. Run the FULL registry through bench.py against it (one warm + one
   timed run per query: at sf1 a min-of-3 would cost hours; the warm
   single run is the steady-state estimator, and any flag it raises
   is re-timed in isolation with `python bench.py <names>` before
   being believed).
3. Extend ladder.json with an "sf1" block: per-query sf0.1 -> sf1
   seconds and base-10 exponents (exp = log10(t_sf1 / t_sf0.1); 1.0 =
   linear), flagging exponent > 1.1 as superlinear for adjudication.

Usage: python scripts/bench_sf1.py [build|run|ladder|all]
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_SF = "/root/testdata/sf0.1"
OUT = "/tmp/spark_graft_sf1"
COPIES = 10
KEY_STRIDE = 10_000_000  # above any sf0.1 orderkey/event_id/doc_id
DIMS = ("region", "nation", "customer", "supplier", "part")


def build() -> None:
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.session import get_spark
    from map_reduce_rpc_spark.tables import load_table

    spark = get_spark("bench_sf1_build")
    os.makedirs(OUT, exist_ok=True)

    def replicate(name: str, shift):
        src = load_table(spark, SRC_SF, name)
        parts = [shift(src, i) for i in range(COPIES)]
        reduce(DataFrame.unionByName, parts).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{name}.parquet")
        )
        print(f"  built {name} x{COPIES}", file=sys.stderr)

    for d in DIMS:
        load_table(spark, SRC_SF, d).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{d}.parquet")
        )
        print(f"  copied dim {d}", file=sys.stderr)

    replicate(
        "orders",
        lambda df, i: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * KEY_STRIDE)
        ),
    )
    replicate(
        "lineitem",
        lambda df, i: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * KEY_STRIDE)
        ),
    )
    replicate(
        "events",
        lambda df, i: df.withColumn(
            "event_id", F.col("event_id") + F.lit(i * KEY_STRIDE)
        ).withColumn("user_id", F.col("user_id") + F.lit(i * KEY_STRIDE)),
    )
    primes = (1, 3, 7, 11, 13, 17, 19, 23, 29, 31)  # copy i -> stride

    def permute_doc(df, i):
        df = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * KEY_STRIDE))
        if i == 0:
            return df
        # stride-permute the token sequence: position j reads token
        # (j * p) % n — token multiset ~preserved, n-gram shingles
        # ~disjoint from the original, so copies are not near-dups
        p = primes[i]
        t = F.split(F.col("text"), " ")
        n = F.size(t)
        permuted = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), n - F.lit(1)),
                lambda j: F.get(t, (j * F.lit(p)) % n),
            ),
        )
        return df.withColumn("text", permuted).withColumn(
            "n_chars", F.length("text")
        )

    replicate("documents", permute_doc)

    def rotate_emb(df, i):
        df = df.withColumn("vec_id", F.col("vec_id") + F.lit(i * KEY_STRIDE))
        if i == 0:
            return df
        e = F.col("embedding")
        return df.withColumn(
            "embedding",
            F.concat(
                F.slice(e, i + 1, 64 - i), F.slice(e, 1, i)
            ),
        )

    replicate("embeddings", rotate_emb)
    spark.stop()


def run() -> None:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=OUT,
        SPARK_GRAFT_BENCH_TIMED_RUNS="1",
    )
    subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")], env=env, check=True
    )


def ladder() -> None:
    with open(os.path.join(REPO, "bench_results.json")) as fh:
        base = json.load(fh)["per_query_sec"]
    with open(os.path.join(REPO, "bench_results_sf1.0.json")) as fh:
        sf1 = json.load(fh)["per_query_sec"]
    per_query, superlinear = {}, []
    for name, t1 in sorted(sf1.items()):
        t0 = base.get(name)
        if not t0 or t1 <= 0:
            continue
        exp = round(math.log10(t1 / t0), 3)
        per_query[name] = {"sec_sf0_1": t0, "sec_sf1": t1, "exponent": exp}
        if exp > 1.1:
            superlinear.append(name)
    path = os.path.join(REPO, "ladder.json")
    with open(path) as fh:
        lad = json.load(fh)
    lad["sf1"] = {
        "copies": COPIES,
        "protocol": "warm-1/timed-1 vs sf0.1 min-of-3 baseline",
        "per_query": per_query,
        "superlinear": superlinear,
    }
    with open(path, "w") as fh:
        json.dump(lad, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "sf1_queries": len(per_query),
                "superlinear": superlinear,
                "max_exp": max(
                    (d["exponent"] for d in per_query.values()), default=None
                ),
            }
        )
    )


if __name__ == "__main__":
    step = sys.argv[1] if len(sys.argv) > 1 else "all"
    if step in ("build", "all"):
        build()
    if step in ("run", "all"):
        run()
    if step in ("ladder", "all"):
        ladder()
