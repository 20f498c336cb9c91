"""Focused pins for the round-14 optimization changes to operator
internals: each test asserts the VALUE-IDENTITY contract the
optimization relies on (partition-independence, single-evaluation
boundary, gated-broadcast equivalence, fused convergence flag).
"""

from __future__ import annotations

import pytest

from map_reduce_rpc_spark.operators import dedup, graph, similarity


@pytest.fixture(scope="module")
def spark():
    from map_reduce_rpc_spark.session import get_spark

    s = get_spark("test_opt_r14", cpus="4")
    yield s


def _vec(i: int, d: int = 8) -> list[float]:
    return [((i * 31 + j * 17) % 97) / 97.0 for j in range(d)]


def test_kmeans_fit_partition_independent(spark):
    """The spread_partitions inside kmeans_fit must not change the fit:
    exact-integer update sums are partition-order-independent, so the
    centroids (and assignments) from a 1-partition and a 7-partition
    input are identical."""
    rows = [(i, _vec(i)) for i in range(40)]
    emb1 = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(1)
    emb7 = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(7)
    c1, a1 = similarity.kmeans_fit(emb1, k=4, iters=3)
    c7, a7 = similarity.kmeans_fit(emb7, k=4, iters=3)
    assert c1 == c7
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a7.collect()))


def test_pq_encode_staged_boundary_and_values(spark):
    """pq_encode stages each sub-space distance list as a named column
    so the argmin does not instantiate the distance tree twice. Pin
    (a) the projection boundary survives optimization (the __pqd
    aliases appear in the optimized plan — CollapseProject must not
    re-inline the expensive lists), and (b) codes equal a direct
    python recompute."""
    rows = [(i, _vec(i)) for i in range(24)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = similarity.pq_codebooks(emb, dim=8, m=2, ksub=4)
    coded = similarity.pq_encode(emb, books, dim=8)
    plan = coded._jdf.queryExecution().optimizedPlan().toString()
    assert "__pqd0" in plan and "__pqd1" in plan
    got = {r["vec_id"]: list(r["codes"]) for r in coded.collect()}
    for i, v in rows:
        want = []
        for j in range(2):
            sub = v[j * 4 : (j + 1) * 4]
            d2 = [
                sum((a - b) * (a - b) for a, b in zip(sub, c))
                for c in books[j]
            ]
            want.append(d2.index(min(d2)))
        assert got[i] == want, f"vec {i}"


def test_pagerank_broadcast_gate_value_identical(spark, monkeypatch):
    """The BROADCAST_NODES_MAX gate changes the physical join strategy
    only: ranks from the broadcast path and the shuffle path must be
    bit-identical (quantized messages are exact integers)."""
    edges = spark.createDataFrame(
        [(0, 3), (0, 5), (2, 3), (4, 5), (2, 7), (6, 7), (8, 3)],
        ["src", "dst"],
    )
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 2_000_000)
    bc = sorted(map(tuple, graph.pagerank(edges, iters=3).collect()))
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", -1)
    sh = sorted(map(tuple, graph.pagerank(edges, iters=3).collect()))
    assert bc == sh
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 2_000_000)
    bcd = sorted(map(tuple, graph.pagerank_directed(edges, iters=3).collect()))
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", -1)
    shd = sorted(map(tuple, graph.pagerank_directed(edges, iters=3).collect()))
    assert bcd == shd


def test_pagerank_union_distinct_skip_identical(spark):
    """union_distinct=False is only valid when the symmetrized union is
    provably duplicate-free; on a disjoint-id-space edge list the two
    settings must agree exactly."""
    edges = spark.createDataFrame(
        [(0, 3), (0, 5), (2, 3), (4, 5), (2, 7)], ["src", "dst"]
    ).distinct()  # evens -> odds: reversed copies can never collide
    a = sorted(map(tuple, graph.pagerank(edges, iters=2, union_distinct=True).collect()))
    b = sorted(map(tuple, graph.pagerank(edges, iters=2, union_distinct=False).collect()))
    assert a == b


def test_connected_components_fused_changed_flag(spark):
    """The in-select changed flag must preserve both the labels and
    the convergence decision: a 6-node path (diameter 5) still
    converges to one component, and the output schema carries no
    helper column."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["id_a", "id_b"]
    )
    out = graph.connected_components(edges)
    rows = {r["node"]: r["component"] for r in out.collect()}
    assert rows == {i: 0 for i in range(6)}
    assert out.columns == ["node", "component"]


def test_minhash_index_checkpoint_semantics(spark):
    """A localCheckpoint of the minhash index is content-identical to
    the lazy form. (decontaminate_fuzzy itself no longer checkpoints
    its index — commit bdff42e removed that after an idle-host A/B —
    but the invariant keeps the lever safe to re-apply wherever an
    index IS materialized, e.g. incremental batch-vs-corpus probing.)"""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta") for i in range(6)],
        ["doc_id", "text"],
    )
    idx = dedup.minhash_index(docs, "doc_id", "text")
    plain = {r["doc"]: (sorted(r["sh"]), [tuple(b) for b in r["bands"]]) for r in idx.collect()}
    ck = {
        r["doc"]: (sorted(r["sh"]), [tuple(b) for b in r["bands"]])
        for r in idx.localCheckpoint().collect()
    }
    assert plain == ck
