"""Iterative graph operators on DataFrames: connected components.

The training-pipeline use: near-dup PAIRS (minhash/jaccard/simhash
output) must become dup CLUSTERS — keep one doc per component, drop
the rest. That closure is inherently iterative; it cannot be a single
SQL query, so this is the engine's iterative-algorithm surface.

Algorithm: min-label propagation. Every node starts labeled with its
own id; each round replaces a node's label with the min of its own and
its neighbors' labels; fixpoint = component = min node id reachable.
Rounds needed = graph diameter (near-dup graphs are shallow — dup
clusters are cliques-ish, diameter 1-3).

Scale notes: each round is one join + one aggregation on the edge
list (shuffle on node id, partial-agg'd). Labels are persisted and
localCheckpoint()ed every round so the plan/lineage stays O(1) deep
instead of O(rounds) — without that, iteration re-executes the whole
history each round and the driver's plan compiler becomes the
bottleneck. Convergence is detected with a count of changed labels
(one cheap action per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Node-keyed per-iteration frames (ranks, vote winners, degree-filter
# survivors) are broadcast-joined instead of shuffle-joined when the
# driver KNOWS the node count is under this bound (the pagerank family
# counts n up front, so the gate is observed, not asserted). Guide §3.1:
# broadcast replaces a shuffle of the BIG side (the edge list — the
# side that grows with corpus size) with a build of the node-sized
# side; at ~16 bytes/row the bound is ~32 MB per broadcast, far under
# the 8 GB cap. Above the bound the joins fall back to the planner's
# choice (shuffle), so graphs with data-scaled node counts keep the
# shuffle path — the decision is data-adaptive, not core-count-tuned.
BROADCAST_NODES_MAX = 2_000_000


def _maybe_broadcast(df: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(df) if small else df


def _iter_snapshot(df: DataFrame, small: bool) -> DataFrame:
    """Per-iteration lineage truncation. When the frame is known
    node-sized (``small``, the BROADCAST_NODES_MAX gate), coalesce to
    ONE partition before the eager checkpoint: a KB-MB rank/label
    frame split 32 ways makes every downstream stage — including each
    round's broadcast build — pay 32 task dispatches for ~500-row
    tasks (guide §2.2 — fewer, larger partitions). Checkpoints stay
    EAGER in both modes: a lazy checkpoint was measured to RECOMPUTE
    the whole chain prefix per consumer here (broadcast builds and
    multi-reference rounds each re-evaluated every earlier iteration —
    bfs_hops went 3.7 s -> 8.3 s), because nothing guarantees the
    marked RDD is computed-and-saved before its next reference."""
    if small:
        return _snapshot(df.coalesce(1))
    return _snapshot(df)


def _snapshot(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` with a retry + persist fallback.

    Eager localCheckpoint in Spark 4.x can throw a spurious
    INTERNAL_ERROR ("The localCheckpoint action failed") under a
    long-lived session with concurrent cleanup — observed ~1/85 runs in
    the bench harness; the identical call succeeds on retry. One retry
    absorbs the race; if that also fails, fall back to persist+count,
    which keeps results correct (lineage merely stays deep for this one
    round).
    """
    for attempt in (0, 1):
        try:
            return df.localCheckpoint()
        except Exception:  # Py4JJavaError; retry once
            if attempt == 1:
                break
    out = df.persist()
    out.count()
    return out


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """(node, component) for every node in the edge list; component is
    the minimum node id in the node's connected component."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = _snapshot(
        sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    )

    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # the changed flag is computed IN the label update (least(old,
        # nbr) != old <=> nbr < old) so convergence detection is a
        # filter-count over the frame the round checkpoints anyway —
        # the old-vs-new self-join that used to compute it was one
        # extra join job per round (guide §1.2: don't compute things
        # twice). Same labels, same convergence decision.
        new_labels = _snapshot(
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.coalesce(
                    F.col("nbr_label") < F.col("label"), F.lit(False)
                ).alias("_chg"),
            )
        )
        changed = new_labels.where(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        # Un-converged labels are WRONG component assignments (long
        # paths propagate one hop per round); surface it rather than
        # silently returning partial closures.
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iter} rounds; "
            "labels may split true components (raise max_iter — rounds needed "
            "= graph diameter)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    contraction — the O(log n)-round MapReduce CC algorithm (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14).

    Why this exists next to :func:`connected_components`: min-label
    propagation needs rounds = graph DIAMETER, which is fine for
    near-dup cliques (diameter 1-3) but pathological for chain-shaped
    graphs (a 10^6-node path needs 10^6 rounds). Star contraction
    halves component height every round regardless of shape, so it is
    the 100 TB-safe default when the dup-graph shape is unknown.

    Each round is two grouped aggregations + joins on node id (same
    shuffle key both phases), localCheckpoint()ed to keep lineage O(1).

    - large-star: for each node u with m = min(N(u) ∪ {u}), connect
      every LARGER neighbor v > u to m (operates on the symmetric
      edge set);
    - small-star: direct edges large→small, then for each u connect
      every neighbor (all ≤ u) and u itself to m = min(N(u) ∪ {u}).

    Fixpoint: the directed edge set stops changing; every node then
    points at its component's minimum id.
    """
    und = _snapshot(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )  # canonical large→small
        .distinct()
    )
    nodes = _snapshot(
        und.select(F.col("u").alias("node"))
        .union(und.select("v"))
        .distinct()
    )

    converged = False
    for _ in range(max_iter):
        # -- large-star over the symmetric set
        sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(
                F.greatest(F.col("v"), F.col("m")).alias("u"),
                F.least(F.col("v"), F.col("m")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star over the directed (large→small) set
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        new_und = _snapshot(
            large.join(m2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))  # v ≥ m
            .union(m2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        # fixpoint test: directed edge sets equal <=> same count and
        # empty difference (both sides are distinct canonical pairs)
        same_count = new_und.count() == und.count()
        if same_count and new_und.exceptAll(und).count() == 0:
            und = new_und
            converged = True
            break
        und = new_und
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components_star did not converge within {max_iter} "
            "rounds (needs O(log n)); labels may be incomplete",
            RuntimeWarning,
            stacklevel=2,
        )
    # final star: u -> v is (node -> component min); minima map to
    # themselves. The min-aggregate keeps the output a FUNCTION
    # node -> component even if max_iter ran out before the edge set
    # became star-shaped (a node could then still carry several
    # outgoing edges; without the aggregate it would emit one row per
    # edge and downstream dedup would see duplicate doc ids). On a
    # converged (star) edge set the groupBy is a semantic no-op.
    comp_map = (
        und.groupBy("u")
        .agg(F.min("v").alias("comp"))
        .select(F.col("u").alias("node"), "comp")
    )
    return nodes.join(comp_map, "node", "left").select(
        "node", F.coalesce(F.col("comp"), F.col("node")).alias("component")
    )


def components_within_blocks(
    edges: DataFrame,
    block_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, component) for edge lists whose edges NEVER cross a block
    boundary (e.g. blocked near-dup pairs: both endpoints share the
    block by construction). Component = min node id, identical to
    :func:`connected_components` — but computed in ONE shuffle.

    Why this exists: when edges are block-local, every connected
    component lies inside a single block, so the global iterative
    algorithms are pure overhead — min-label propagation pays
    rounds x (join + agg + checkpoint) of fixed per-round cost that
    dwarfs the actual work (measured at sf0.1: 10-17 s for 391 edges
    vs ~1 s here). Per block, a driver-free union-find runs inside an
    Arrow batch (``applyInPandas``); with blocks bounded (k-means
    cells sized n/k, the SemDeDup construction) each group is tiny and
    the shuffle on the block key is the only data movement. This is
    the published SemDeDup shape: cluster -> WITHIN-cluster closure.

    Caller contract: both endpoints of every edge must carry the same
    ``block_col`` value (true for any within-block pair generator). A
    node may appear in only one block, so outputs are disjoint.
    """
    import pandas as pd

    def _union_find(pdf: "pd.DataFrame") -> "pd.DataFrame":
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["_src"], pdf["_dst"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # min-id roots
        nodes = list(parent)
        return pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return (
        edges.select(
            F.col(block_col).alias("_blk"),
            F.col(src).cast("long").alias("_src"),
            F.col(dst).cast("long").alias("_dst"),
        )
        .groupBy("_blk")
        .applyInPandas(_union_find, schema="node long, component long")
    )


PR_QUANT = 1 << 20


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    union_distinct: bool = True,
) -> DataFrame:
    """Deterministic PageRank over the UNDIRECTED closure of the edge
    list, the second iterative-algorithm surface next to connected
    components. Per iteration: each node sends r/deg to every
    neighbor, QUANTIZED to a long at 2^20 (PR_QUANT) so the incoming
    sum is an exact integer — order-independent, hence bit-identical
    across partitionings AND engines; the new rank
    ``(1-d)/n + d * (sum/2^20)`` is then a fixed IEEE expression chain.
    That makes an N-iteration run fully DuckDB-oracle-able as an
    unrolled CTE chain (the kmeans_fit pattern applied to graph
    iteration). The quantization floor loses < 2^-20 of each message's
    mass — a deterministic leak, identically replayed by the oracle.

    Undirected closure sidesteps dangling-node mass redistribution
    (every node has out-degree >= 1), which keeps both engines'
    replays local; directed PageRank with dangling handling would add
    one global scalar per iteration.

    Scale shape: per iteration one shuffle join (edges x ranks on the
    source) + one partial-agg'd sum on the destination — the degree
    join is folded into the edge list ONCE up front, and ranks are
    localCheckpoint()ed per round so lineage stays O(1). At 100 TB
    partition-persist the degree-annotated edge list and this is
    textbook Pregel-on-DataFrames.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if union_distinct:
        # dedup the symmetrized union. Callers set union_distinct=False
        # when the union is PROVABLY duplicate-free — distinct input
        # edges whose src/dst id spaces are disjoint (the bipartite
        # 2c / 2s+1 encoding): the reversed copy can then never collide
        # with the forward copy, the distinct is an identity, and
        # skipping it removes one full exchange+aggregate of the edge
        # list (guide §2.4 — a `distinct` on data that is already
        # unique). Values are identical by construction.
        sym = sym.distinct()
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    # degree-annotated edges, built once, reused every iteration
    ann = sym.join(deg, "a").persist()
    nodes = ann.select(F.col("a").alias("node")).distinct().persist()
    n = nodes.count()
    if n == 0:
        # empty edge list: no nodes, no ranks — typed empty result
        # (unpersist before returning: the derived limit(0) frame
        # recomputes trivially, and a 173-query bench session must
        # not accumulate orphaned cached node sets)
        ann.unpersist()
        nodes.unpersist()
        return nodes.withColumn("r", F.lit(0.0)).limit(0)
    ranks = nodes.withColumn("r", F.lit(1.0) / F.lit(float(n)))
    base = F.lit(1.0 - damping) / F.lit(float(n))
    # n is known exactly here: broadcast the node-sized per-iteration
    # frames under BROADCAST_NODES_MAX so the edge list (the data-sized
    # side) is never shuffled by the join, and AQE's per-exchange stage
    # round-trips collapse (measured at sf0.1: 31 jobs -> the shuffle
    # count, guide §2.4/§3.1). Join outputs are row-identical either way.
    bc = n <= BROADCAST_NODES_MAX
    for _ in range(iters):
        contrib = ann.join(
            _maybe_broadcast(ranks, bc), ann["a"] == ranks["node"]
        ).select(
            F.col("b").alias("node"),
            F.floor((F.col("r") / F.col("deg")) * F.lit(float(PR_QUANT)))
            .cast("long")
            .alias("c"),
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = _iter_snapshot(
            nodes.join(_maybe_broadcast(s, bc), "node", "left").select(
                "node",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0)).cast("double")
                        / F.lit(float(PR_QUANT))
                    )
                ).alias("r"),
            ),
            bc,
        )
    ann.unpersist()
    # ranks is localCheckpoint'd by _snapshot, so dropping the nodes
    # cache here cannot trigger a recompute of the returned frame
    nodes.unpersist()
    return ranks


def pagerank_directed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    input_distinct: bool = False,
) -> DataFrame:
    """DIRECTED PageRank with dangling-mass redistribution — the
    general form :func:`pagerank`'s undirected closure sidesteps. Per
    iteration each node sends r/out_deg along its OUT edges (quantized
    longs, exact sums, as in pagerank); the rank mass sitting on
    dangling nodes (out-degree 0) is summed EXACTLY (floor-quantized
    longs, a one-row in-plan broadcast per iteration — no driver
    round-trip) and redistributed uniformly:

        r' = (1-d)/n + d * (in_sum/Q + (dangling_q/Q)/n)

    a fixed IEEE expression chain, so the DuckDB oracle replays every
    iteration (including the dangling scalar) bit-for-bit. Without the
    redistribution a directed graph leaks mass every round and ranks
    drift toward zero — the classic implementation bug this operator
    exists to pin down."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not input_distinct:
        # callers whose edge list is already distinct set
        # input_distinct=True and skip this exchange (guide §2.4)
        e = e.distinct()
    out_deg = e.groupBy("a").agg(F.count("*").alias("deg"))
    ann = e.join(out_deg, "a").persist()
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        ann.unpersist()
        nodes.unpersist()
        return nodes.withColumn("r", F.lit(0.0)).limit(0)
    dangling = nodes.join(
        out_deg.select(F.col("a").alias("node")), "node", "left_anti"
    ).persist()
    q = float(PR_QUANT)
    ranks = nodes.withColumn("r", F.lit(1.0) / F.lit(float(n)))
    base = F.lit(1.0 - damping) / F.lit(float(n))
    # same broadcast gating as pagerank() — n is exact here
    bc = n <= BROADCAST_NODES_MAX
    for _ in range(iters):
        contrib = ann.join(
            _maybe_broadcast(ranks, bc), ann["a"] == ranks["node"]
        ).select(
            F.col("b").alias("node"),
            F.floor((F.col("r") / F.col("deg")) * F.lit(q))
            .cast("long")
            .alias("c"),
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # The dangling mass stays IN-PLAN as a one-row broadcast
        # (round 15): the old per-iteration .first() was its own
        # eager job + a serial driver round-trip between every
        # iteration's sum and snapshot. A global agg always returns
        # exactly one row, so the crossJoin never duplicates or drops;
        # coalesce(sum, 0) is the old `or 0`, and CAST(dm AS DOUBLE)
        # is the same IEEE nearest-rounding float(dm) applied — the
        # oracle still replays the identical expression chain.
        dmf = (
            dangling.join(_maybe_broadcast(ranks, bc), "node")
            .agg(
                F.coalesce(
                    F.sum(F.floor(F.col("r") * F.lit(q)).cast("long")),
                    F.lit(0),
                ).alias("dm")
            )
        )
        ranks = _iter_snapshot(
            nodes.join(_maybe_broadcast(s, bc), "node", "left")
            .crossJoin(F.broadcast(dmf))
            .select(
                "node",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0)).cast("double") / F.lit(q)
                        + (F.col("dm").cast("double") / F.lit(q)) / F.lit(float(n))
                    )
                ).alias("r"),
            ),
            bc,
        )
    ann.unpersist()
    dangling.unpersist()
    nodes.unpersist()
    return ranks


def kcore_truncated(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Truncated k-core peeling: `rounds` iterations of "drop every
    node with degree < k, restrict the edge set to survivors", then
    per-node degrees of the surviving subgraph. Input: undirected
    unique pairs (u, v); output: (u, core_deg) for surviving nodes.

    A FIXED round count (instead of iterate-to-fixpoint) keeps the
    computation replayable as an unrolled oracle CTE chain — the same
    contract as the PageRank/Lloyd replays; convergence within the
    configured rounds is asserted separately (tests/test_graph.py runs
    one extra round and requires an identical result on the test
    graphs, so where that holds the truncated result IS the exact
    k-core). Each round is one combiner'd degree aggregation plus two
    node-keyed semi joins — all hash-partitioned on node ids,
    AQE-skew-splittable; localCheckpoint truncates the per-round
    lineage exactly like pagerank's.
    """
    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    cur = und
    for rnd in range(1, rounds + 1):
        keep = (
            cur.groupBy("u")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= k)
            .select("u")
        )
        cur = cur.join(keep, "u", "semi").join(
            keep.select(F.col("u").alias("v")), "v", "semi"
        )
        # checkpoint only where the round's survivors feed TWO
        # consumers (next round's degree count + semi joins); the
        # final round's `cur` is read once by the closing groupBy, so
        # a checkpoint there is a pure copy + a dead Catalyst planning
        # pass (queryExecution.toRdd) at construction (round 15).
        if rnd < rounds:
            cur = cur.localCheckpoint(eager=False)
    return cur.groupBy("u").agg(F.count("*").cast("long").alias("core_deg"))


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al. 2007) for
    COMMUNITY detection — the density-sensitive complement of
    :func:`connected_components` (which only answers reachability):
    within one connected component, LPA splits the loosely-bridged
    dense regions apart. Input: undirected unique pairs (u, v);
    output: (node, community) where community is the surviving label.

    Every node starts labeled with its own id; each round every node
    adopts the MODE of its neighbors' labels (pure neighbor vote,
    ties broken toward the smallest label — the determinism pin that
    replaces the randomized tie-break of the published algorithm, so
    a FIXED round count is bit-replayable as an unrolled oracle CTE
    chain, same contract as pagerank/kcore_truncated).

    Per round: one shuffle join (edges x labels on the neighbor end),
    one combiner'd (node, label) vote count, then a second combiner'd
    per-node argmax via max(struct(votes, -label)) — an aggregation,
    NOT a window, so map-side partial agg applies and no per-node
    partition materializes (window-free = hot-node-safe; the vote
    rows per node are bounded by degree anyway on a union-kNN
    backbone). Labels are localCheckpoint()ed per round so lineage
    stays O(1) deep.
    """
    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    labels = _snapshot(
        und.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(rounds):
        votes = (
            und.join(labels, und["v"] == labels["node"])
            .groupBy(F.col("u"), F.col("label"))
            .agg(F.count("*").alias("c"))
        )
        best = (
            votes.groupBy("u")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select(F.col("u").alias("bnode"), (-F.col("m.nl")).alias("blabel"))
        )
        labels = _snapshot(
            labels.join(best, labels["node"] == F.col("bnode"), "left").select(
                "node", F.coalesce(F.col("blabel"), F.col("label")).alias("label")
            )
        )
    und.unpersist()
    return labels.select("node", F.col("label").alias("community"))


def pagerank_personalized(
    edges: DataFrame,
    seeds: tuple[int, ...],
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    input_distinct: bool = False,
) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart): teleport mass
    lands uniformly on the SEED set instead of on every node, so the
    stationary scores answer "how relevant is each node TO THESE
    seeds" — the recommendation / graph-expansion primitive (P3-style
    bipartite recommenders are exactly this walk), vs the global
    centrality :func:`pagerank_directed` computes. Dangling mass also
    teleports back to the seeds (the personalized form of the
    redistribution):

        r' = (1-d)*p(v) + d * (in_sum/Q + (dangling_q/Q) * p(v))

    with p(v) = 1/|seeds| on seeds, 0 elsewhere, r0 = p. Same exact
    quantized-long messages and one-row in-plan dangling broadcast as
    the directed form, so the DuckDB oracle replays every iteration
    bit-for-bit (seed membership is a literal IN list in both
    engines). `seeds` is a tiny driver-side literal by contract —
    it parameterizes the query like a constant, it is not data.
    Scale shape identical to pagerank_directed: one shuffle join +
    one partial-agg'd sum per iteration, lineage truncated per round.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not input_distinct:
        # callers whose edge list is already distinct (e.g. the
        # bidirectional union of a distinct bipartite relation with
        # disjoint id spaces) set input_distinct=True and skip this
        # exchange (guide §2.4)
        e = e.distinct()
    out_deg = e.groupBy("a").agg(F.count("*").alias("deg"))
    ann = e.join(out_deg, "a").persist()
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        ann.unpersist()
        nodes.unpersist()
        return nodes.withColumn("r", F.lit(0.0)).limit(0)
    p_seed = 1.0 / len(seeds)
    p = F.when(F.col("node").isin(list(seeds)), F.lit(p_seed)).otherwise(
        F.lit(0.0)
    )
    dangling = nodes.join(
        out_deg.select(F.col("a").alias("node")), "node", "left_anti"
    ).persist()
    # One count up front: a graph with no dangling nodes (e.g. the
    # bidirectional bipartite walk) skips the per-iteration dangling
    # aggregate entirely — dm is identically 0, so result-identical,
    # and it removes one join-agg subtree per iteration.
    has_dangling = dangling.count() > 0
    q = float(PR_QUANT)
    ranks = nodes.withColumn("r", p)
    # same broadcast gating as pagerank() — n is exact here
    bc = n <= BROADCAST_NODES_MAX
    for _ in range(iters):
        contrib = ann.join(
            _maybe_broadcast(ranks, bc), ann["a"] == ranks["node"]
        ).select(
            F.col("b").alias("node"),
            F.floor((F.col("r") / F.col("deg")) * F.lit(q))
            .cast("long")
            .alias("c"),
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # dangling mass in-plan as a one-row broadcast — same
        # transformation as pagerank_directed (round 15): no per-
        # iteration .first() job; CAST(dm AS DOUBLE) == float(dm)
        # IEEE-exactly and coalesce(sum, 0) == the old `or 0`. The
        # has_dangling gate still skips the join-agg subtree entirely
        # when the graph provably has no dangling nodes (dm == 0).
        upd = nodes.join(_maybe_broadcast(s, bc), "node", "left")
        if has_dangling:
            dmf = (
                dangling.join(_maybe_broadcast(ranks, bc), "node")
                .agg(
                    F.coalesce(
                        F.sum(F.floor(F.col("r") * F.lit(q)).cast("long")),
                        F.lit(0),
                    ).alias("dm")
                )
            )
            dm_term = F.col("dm").cast("double") / F.lit(q)
            upd = upd.crossJoin(F.broadcast(dmf))
        else:
            dm_term = F.lit(0.0) / F.lit(q)
        ranks = _iter_snapshot(
            upd.select(
                "node",
                (
                    F.lit(1.0 - damping) * p
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0)).cast("double")
                        / F.lit(q)
                        + dm_term * p
                    )
                ).alias("r"),
            ),
            bc,
        )
    ann.unpersist()
    dangling.unpersist()
    nodes.unpersist()
    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: tuple[int, ...],
    rounds: int,
) -> DataFrame:
    """Multi-source BFS hop distance: ``rounds`` synchronous frontier
    expansions from the seed set over undirected unique (u, v) pairs.
    Output (node, hops) for every node reached within the horizon —
    the reachability/radius primitive the other five graph algorithms
    don't give (CC says "connected at all", this says "how far").

    Scale shape: the per-round join is FRONTIER-only — last round's
    newly-reached nodes against the adjacency, never the full reached
    set — so per-round shuffle volume is proportional to the frontier,
    the textbook Pregel BFS. The reached set participates only in one
    left_anti per round (dedup against already-visited). Lineage is
    truncated per round (localCheckpoint), same contract as PageRank.
    Deterministic: hop numbers are unique per node (min hop by
    construction — a node enters `reached` the first round it is
    seen), so the oracle unrolls every round as a CTE chain.
    """
    spark = edges.sparkSession
    und = (
        edges.select("u", "v")
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    reached = spark.createDataFrame(
        [(int(s), 0) for s in seeds], "node long, hops int"
    )
    frontier = reached
    for r in range(1, rounds + 1):
        nxt = (
            und.join(frontier, und["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(reached, "node", "left_anti")
            .withColumn("hops", F.lit(r).cast("int"))
        )
        reached = _snapshot(reached.unionByName(nxt))
        frontier = reached.where(F.col("hops") == r)
    und.unpersist()
    return reached
