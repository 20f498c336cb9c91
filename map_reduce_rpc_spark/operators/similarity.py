"""Similarity search over embedding columns (array<float>).

Three tiers, mirroring a production ANN stack:

- brute-force cosine top-k  — the exact baseline (and the oracle for
  recall tests). Query set broadcast; one pass over candidates; local
  top-k per partition then global (TakeOrdered shape via window).
- blocked exact near-dup    — exact cosine pairs within coarse blocks
  (here: the label column; in production: a cluster assignment).
- IVF top-k                 — inverted-file ANN: centroids per block,
  probe the ``nprobe`` nearest blocks only.

All dot products run JVM-side via zip_with + aggregate over
array<double> (exact element order -> bit-reproducible doubles, which
the DuckDB oracle matches). No Python in the hot path.

Scale notes (1B+ vectors): the brute-force path is O(Q x N) and exists
for correctness; IVF reduces the scanned fraction to nprobe/nlist.
Block/centroid tables are tiny and always broadcast. The candidate
scan is a single narrow projection of (id, block, vec).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..tables import scan_is_small, spread_partitions


def _lit_d(x: float) -> str:
    """SQL double literal with exact IEEE round-trip: repr() is the
    shortest exact decimal form and the D suffix pins DOUBLE (a bare
    decimal parses as DECIMAL in Spark SQL)."""
    return repr(float(x)) + "D"


def lit_matrix(m) -> Column:
    """``array<array<double>>`` literal built as ONE parsed SQL string.

    ``F.lit(nested_list)`` creates every scalar Literal through its own
    py4j round trip — measured 0.93 s for an 8x(16x8) codebook set vs
    0.011 s for the equivalent ``F.expr`` string (85x), and the PQ
    query family was spending 2-8 s of its WALL in exactly this
    driver-side construction chatter (guide §7.3: planning/driver time
    is single-threaded and counts). Values are bit-identical: repr()
    round-trips doubles exactly and the SQL parser builds the same
    IEEE literal (asserted by the oracle hash checks and
    tests/test_similarity.py)."""
    body = ",".join(
        "array(" + ",".join(_lit_d(x) for x in row) + ")" for row in m
    )
    return F.expr(f"array({body})")


def lit_cube(c) -> Column:
    """``array<array<array<double>>>`` literal via one SQL string —
    the 3-level form of :func:`lit_matrix` (PQ codebook sets)."""
    body = ",".join(
        "array("
        + ",".join(
            "array(" + ",".join(_lit_d(x) for x in row) + ")" for row in m
        )
        + ")"
        for m in c
    )
    return F.expr(f"array({body})")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for each query id over all other vectors.

    Output: (query_id, neighbor_id, cos) — k rows per query, ties
    broken by neighbor_id for determinism.
    """
    # norms computed once per row (not per pair); cos = dot/(nq*nn) is
    # bit-identical to cosine() — same values, same final division.
    base = emb.select(
        F.col(id_col).alias("_id"),
        _as_double(vec_col).alias("_v"),
    ).withColumn("_n", l2_norm(F.col("_v")))
    queries = base.where(F.col("_id").isin(query_ids)).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("_qv"), F.col("_n").alias("_qn")
    )
    scored = (
        base.join(F.broadcast(queries), F.col("_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            (dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_n"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def filtered_topk(
    emb: DataFrame,
    query_ids: list[int],
    labels: tuple[int, ...],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Filtered vector search — exact cosine top-k restricted to
    vectors whose metadata satisfies a predicate (here: label in
    ``labels``). The production retrieval shape ("nearest docs WHERE
    lang='en' AND source=..."), and the case where pre-filtering beats
    post-filtering: applying the predicate BEFORE any distance work
    both shrinks the scan (predicate reaches the parquet reader as a
    PushedFilter on the label column) and guarantees exactly k valid
    results — a post-filtered ANN shortlist can come back short when
    the predicate is selective.

    Queries are looked up in the UNFILTERED table (a query vector need
    not satisfy its own predicate) and broadcast; candidates carry the
    filter into the scan. Per-query top-k via one window over the
    scored candidates, ties broken by neighbor_id.
    """
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        _as_double(vec_col).alias("_v"),
    ).withColumn("_n", l2_norm(F.col("_v")))
    queries = base.where(F.col("_id").isin(query_ids)).select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
    )
    cands = base.where(F.col("_lbl").isin(list(labels)))
    scored = cands.join(F.broadcast(queries), F.col("_id") != F.col("query_id")).select(
        "query_id",
        F.col("_id").alias("neighbor_id"),
        F.col("_lbl").alias("label"),
        (dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_n"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "label", "cos", "rnk")
    )


# Broadcast budget for a build side whose size the code observes
# (Catalyst's estimate, see _fits_broadcast): blocked_near_dup_pairs'
# pair join and textops' decontamination gram join broadcast under it
# and shuffle past it. Real eval sets and k-means cells fit easily; an
# O(corpus) build side at 100 TB does not.
BROADCAST_MAX_BYTES = 64 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for the optimized plan (the same
    statistic the broadcast-join planner consults). None if the py4j
    surface changes."""
    try:
        # py4j may hand back a python int or a java BigInt; str() of
        # either is the decimal value
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def _fits_broadcast(df: DataFrame) -> bool:
    """True iff Catalyst estimates ``df`` under BROADCAST_MAX_BYTES; an
    unknown estimate takes the shuffle path."""
    est = _plan_size_bytes(df)
    return est is not None and est <= BROADCAST_MAX_BYTES


def blocked_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    keep_block_col: bool = False,
) -> DataFrame:
    """Exact cosine >= threshold pairs within each block.

    The block column bounds the quadratic term: cost sums over
    block_size^2 instead of N^2. With a cluster assignment as the
    block this is the verification stage of embedding dedup.

    Join selection (the 100 TB question for this operator) follows
    Catalyst's size estimate for the build side (:func:`_fits_broadcast`):

    - under BROADCAST_MAX_BYTES, broadcast — the build side ships to
      every task and the probe side parallelizes with the scan, not
      with block cardinality (a shuffle join on a 10-value blk column
      caps parallelism at 10 tasks);
    - past it, a sort-merge join with both sides shuffled on blk —
      scales to any table size, and fills the cluster once block
      cardinality reaches its parallelism (true for real k-means
      cells).
    """
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        _as_double(vec_col).alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))
    if _fits_broadcast(base):
        # Explicit-count repartition when the source scan is small
        # (round 15): the keyless-count form `repartition(col)` is
        # AQE-coalescible, and with a KB-sized input AQE folded the
        # ENTIRE quadratic pair stage — the interpreted HOF cosine over
        # every within-block pair — into ONE task (semantic_dedup_cells
        # profiled 14 single-task stages, 3.5 s of exec on one core).
        # An explicit numPartitions is honored by AQE verbatim, so the
        # pair compute spreads across cores; at scale the guard sees a
        # many-split scan and keeps the coalescible form. Values are
        # row-local (cosine + threshold) — partition-independent.
        target = base.sparkSession.sparkContext.defaultParallelism
        a = (
            base.repartition(target, F.col("id"))
            if scan_is_small(base, target)
            else base.repartition(F.col("id"))
        ).alias("a")
        b = F.broadcast(base).alias("b")
    else:
        a = base.alias("a")
        b = base.hint("merge").alias("b")
    extra = [F.col("a.blk").alias("blk")] if keep_block_col else []
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    # The cosine rides behind a single-element explode: a Generate node
    # is a predicate-pushdown barrier, so the threshold filter below
    # CANNOT be collapsed into the projection — without it Catalyst
    # rewrites the filter through the alias and the interpreted HOF dot
    # (zip_with/aggregate never enters codegen, and interpreted eval
    # has no common-subexpression elimination) runs TWICE per
    # candidate pair. Round-7 profiling at sf0.1: 2.78 s -> 1.73 s for
    # the 250k-candidate pair stage, values bit-identical (same
    # expression, evaluated once instead of twice). At 100 TB the pair
    # stage is exactly this expression times sum(block^2) — factor two
    # matters.
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.explode(F.array(cos)).alias("cos"),
        *extra,
    )
    return pairs.where(F.col("cos") >= threshold)


def _exact_block_centroids(base: DataFrame) -> DataFrame:
    """``blk -> mean centroid`` via EXACT-INTEGER derivation: elements
    are floor-quantized at 2^20 (SRP_QUANT) and summed as longs — the
    sum is order-independent, so the centroid (s/c, one IEEE double
    division of exact integers) is bit-identical in any engine and the
    whole IVF probe becomes oracle-able. Cosine is scale-invariant, so
    the 2^20 factor needs no unscaling. A float avg() here would differ
    across partition orders and engines in the last ulp — enough to
    flip a probe ranking. Dimension-free shape: posexplode ->
    (blk, pos) partial-agg'd sums -> re-assemble (same exchange volume
    as a wide per-element avg, O(1) plan nodes instead of O(dim))."""
    return (
        base.select("blk", F.posexplode("_v").alias("pos", "x"))
        .groupBy("blk", "pos")
        .agg(
            F.sum(F.floor(F.col("x") * F.lit(float(SRP_QUANT))).cast("long")).alias("s"),
            F.count("*").alias("c"),
        )
        .groupBy("blk")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", (F.col("s") / F.col("c")).alias("m"))
                    )
                ),
                lambda s: s["m"],
            ).alias("cent")
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: per-block mean centroids; each query probes only
    the ``nprobe`` blocks whose centroids score highest, then exact
    cosine within those blocks.

    When ``centroids`` is given (block i -> centroids[i], e.g. the
    matrix :func:`kmeans_fit` already trained), the per-block mean
    aggregation is skipped entirely — the k x dim floats become a
    local relation on the driver, so the probe phase costs zero scans.
    Otherwise centroids are derived with a dimension-free
    posexplode -> (blk, pos) mean -> re-assemble aggregate (same
    exchange volume as a wide per-element avg, but O(1) plan nodes
    instead of O(dim), and no driver round-trip to discover dim).

    Recall < 1 by design; tested against brute_force_topk. At scale the
    block column comes from k-means (or any partitioner); the plan —
    broadcast centroids, prune scan by block, window top-k — is
    unchanged.
    """
    # No norm here: the candidate norm is computed AFTER the probe join
    # prunes to nprobe blocks, so non-probed rows cost only the narrow
    # (id, blk, vec) projection — at 1B vectors that's the difference
    # between normming the whole corpus and normming the scanned
    # fraction. (With the corpus parquet partitioned by block, the
    # probe filter also becomes a partition-pruning predicate.)
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("blk"),
        _as_double(vec_col).alias("_v"),
    )
    if centroids is not None:
        centroids_df = emb.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "blk int, cent array<double>",
        )
    else:
        centroids_df = _exact_block_centroids(base)
    queries = base.where(F.col("_id").isin(query_ids)).select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        l2_norm(F.col("_v")).alias("_qn"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("blk")
    )
    probed = (
        queries.crossJoin(F.broadcast(centroids_df))
        .select(
            "query_id",
            "_qv",
            "_qn",
            "blk",
            cosine(F.col("_qv"), F.col("cent")).alias("cent_cos"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "_qv", "_qn", F.col("blk").alias("_pblk"))
    )
    scored = base.join(
        F.broadcast(probed),
        (F.col("blk") == F.col("_pblk")) & (F.col("_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("_id").alias("neighbor_id"),
        (
            dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * l2_norm(F.col("_v")))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


# ---------------------------------------------------------------------------
# SRP-LSH (random hyperplane signatures) — the bucketed scale path for
# cosine near-dup when no block/cluster column exists.
# ---------------------------------------------------------------------------


# Quantization scale for the portable SRP projection: embeddings are
# floor()ed to integers at 2^20 resolution so the plane dot products
# are EXACT integer sums — order-independent, hence bit-identical
# between numpy matmul (pairwise summation) and the oracle's SQL fold
# (sequential). 64 dims x |q| <~ 2^21 stays far under 2^63.
SRP_QUANT = 1 << 20


def srp_plane_sign(seed: int, j: int, d: int) -> int:
    """±1 hyperplane entry for bit j, dimension d — md5-derived so the
    DuckDB oracle regenerates the identical family:
    ``('0x' || substring(md5('srp:'||seed||':'||j||':'||d), 1, 1))::BIGINT % 2``.
    Rademacher (±1) planes give the same sign-projection LSH family as
    Gaussian ones (SimHash uses them), and unlike Gaussian draws they
    need no RNG state an external engine can't replay.
    """
    import hashlib

    h = hashlib.md5(f"srp:{seed}:{j}:{d}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 1 else -1


def srp_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    seed: int = 42,
    bands: int = 8,
) -> DataFrame:
    """Sign-random-projection signature per vector, emitted as one
    value per LSH band (``bands`` longs of ``n_bits // bands`` bits).

    P(bit agrees) = 1 - angle/pi, so hamming distance estimates cosine.
    The N x dim @ dim x n_bits projection runs as numpy integer matmul
    inside Arrow batches (mapInPandas) — the one place BLAS beats
    codegen; hyperplanes are regenerated deterministically
    (:func:`srp_plane_sign`) inside each task, nothing is shuffled but
    (id, band values) longs. Bit j of the signature is
    ``sum_d floor(v[d]*2^20) * s(j,d) > 0`` — all-integer, so an
    ANSI-SQL oracle reproduces every bit exactly; band b's value packs
    bits [b*width, (b+1)*width) little-endian.

    Emitting per-band values (round 5; previously one packed 64-bit
    long) removes the 64-bit ceiling on n_bits, which the log2(N) band
    sizing needs: at 10^9 vectors the calibrated width is ~24 bits x 8
    bands = 192 signature bits.
    """
    import numpy as np
    import pandas as pd

    if n_bits % bands:
        raise ValueError(f"n_bits={n_bits} not divisible by bands={bands}")
    width = n_bits // bands
    if width > 62:
        raise ValueError(f"band width {width} exceeds a long (max 62)")

    def project(batches):
        planes: dict[int, "np.ndarray"] = {}
        weights = (1 << np.arange(width, dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["_v"].values).astype(np.float64)
            Q = np.floor(V * float(SRP_QUANT)).astype(np.int64)
            dim = V.shape[1]
            if dim not in planes:
                planes[dim] = np.array(
                    [
                        [srp_plane_sign(seed, j, d) for j in range(n_bits)]
                        for d in range(dim)
                    ],
                    dtype=np.int64,
                )
            bits = (Q @ planes[dim]) > 0
            vals = np.empty((len(pdf), bands), dtype=np.int64)
            for b in range(bands):
                seg = bits[:, b * width : (b + 1) * width].astype(np.uint64)
                vals[:, b] = (seg * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {"id": pdf["_id"].values, "bands": list(vals)}
            )

    base = emb.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    )
    return base.mapInPandas(project, schema="id long, bands array<long>")


def srp_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    bands: int = 8,
    max_bucket: int | None = None,
    target_bucket: int = 64,
) -> DataFrame:
    """Cosine >= threshold pairs via SRP-LSH banding + exact verify.

    Pipeline: signature -> one value per band -> bucket join on
    (band_idx, band_val) -> exact cosine on the candidates only.
    Recall for 8x8-bit bands at cos 0.95+ is >0.999; precision is exact
    (candidates are verified). Shuffle profile: one (id, band) row per
    vector per band — vector payloads only touch the verify join.

    Band-width AUTO-CALIBRATION (round 5, default): with ``n_bits``
    None, the band width follows the log2(N) rule SCALE.md derives —
    ``width = max(8, ceil(log2(N / target_bucket)))`` — so the expected
    random-bucket size N / 2^width stays ~``target_bucket`` as the
    corpus grows, instead of saturating (8-bit bands have 256 values;
    the sf1 soak measured 7.6M candidates for 90k true pairs once
    N >> bands x 2^width). Costs one count() of the input. At the test
    corpora (N <= 16k) the rule yields the historical 8x8-bit layout,
    so oracle-pinned callers see identical behavior; pass an explicit
    ``n_bits`` to pin the family regardless of N (the registered query
    does, keeping its DuckDB replay exact).

    ``max_bucket`` remains the deterministic backstop for whatever the
    width lets through (identical twins hash identically at ANY width):
    buckets larger than it are dropped before the pair join, bounding
    candidates at bands x 2^width x C(max_bucket, 2); recall then
    covers only pairs sharing a surviving band. Deterministic (bucket
    size is a fact of the data), so an oracle replays it with a
    windowed count.
    """
    if n_bits is None:
        import math

        n = emb.count()
        width = max(
            8, math.ceil(math.log2(max(n, 1) / target_bucket)) if n > target_bucket else 8
        )
        n_bits = bands * width
    sigs = srp_signatures(emb, id_col, vec_col, n_bits, bands=bands)
    banded = sigs.select(
        "id", F.posexplode("bands").alias("band_idx", "band_val")
    )
    if max_bucket is not None:
        w = Window.partitionBy("band_idx", "band_val")
        banded = (
            banded.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    vecs = emb.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))
    va = vecs.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = vecs.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    # No broadcast hint on cand: its size is data-dependent (quadratic
    # under band saturation — see max_bucket above), and a forced
    # broadcast of a multi-million-pair candidate set is exactly the
    # kind of driver-side bomb the 100 TB brief warns about. AQE's
    # runtime stats pick broadcast when cand is actually small.
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            # explode barrier: single evaluation of the interpreted HOF
            # cosine under the threshold filter (see
            # blocked_near_dup_pairs for the measured rationale)
            F.explode(
                F.array(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb"))
                )
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's) — trains the IVF cell assignment when no
# natural block column exists. The reference has no clustering; this is
# the Spark-idiomatic iterative-algorithm pattern (cf. operators/graph.py).
# ---------------------------------------------------------------------------


def assign_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Add an argmin-squared-distance cell column from LITERAL
    centroids: a narrow codegen map — no join, no shuffle, no scan of
    a centroid table. The k x dim doubles ride the plan as ONE nested
    literal node, so plan analysis stays O(1) in k*dim. Ties break to
    the lowest cell index (array_position finds the first minimum) —
    deterministic.
    """
    cent_arr = lit_matrix(centroids)
    v = _as_double(vec_col)
    d2 = F.transform(
        cent_arr,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    cell = F.array_position(d2, F.array_min(d2)).cast("int") - F.lit(1)
    return emb.withColumn(out_col, cell)


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means over an embedding column; returns the trained
    ``k x dim`` centroid matrix AND the ``(id, cell)`` assignment —
    the inverted-file partitioner + probe table for :func:`ivf_topk`.
    Callers that need ANN after training should pass the centroid
    matrix straight to ``ivf_topk(centroids=...)`` instead of letting
    it re-aggregate per-block means the fit already computed.

    Per iteration: centroids are embedded in the plan as a LITERAL
    array (k x dim doubles — bytes, not a join), so assignment is a
    narrow map fused into the scan (argmin over ``transform`` +
    ``array_min``, all codegen); the update is ONE groupBy shuffle
    carrying (cell, per-dim partial sums) — map-side combined, so the
    exchange moves k x dim doubles per upstream partition regardless of
    row count. The driver holds only the k x dim centroid matrix per
    round (the same contract as MLlib's KMeans). Deterministic:
    init picks the k rows with the smallest md5(id) — uniform,
    engine-portable, and stable under appends of later ids only if
    hashes exceed existing picks; empty cells keep their previous
    centroid.

    At 1B vectors: iters x (narrow scan + k*dim-wide exchange) — no
    all-pairs term anywhere; the scan dominates, as it should.
    """
    base = emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    # Cache the parsed (id, vec) projection for the training loop: each
    # Lloyd's iteration is an action, and without this every iteration
    # re-scans the source and re-casts the array (MLlib caches its
    # input for the same reason). MEMORY_AND_DISK so a 1B-vector table
    # degrades to spill, not OOM; released after the last update.
    # NO spread_partitions here (round 15, reverting round 14): an
    # idle-host A/B measured the fit 2.9-3.7 s WITHOUT the spread vs
    # 4.1 s with it, twice — the repartition shuffles the training
    # cache before first materialization, and the per-iteration argmin
    # aggregates already parallelize through the posexplode shuffle.
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    init_rows = (
        base.withColumn("h", F.md5(F.col("id").cast("string")))
        .orderBy("h", "id")
        .limit(k)
        .select("v")
        .collect()
    )
    cents: list[list[float]] = [list(r["v"]) for r in init_rows]

    for _ in range(iters):
        # update via posexplode -> (cell, pos) partial sums: same
        # map-side-combined k*dim exchange volume as a k*dim-column
        # aggregate, but trivially codegen-able (a wide sum-per-column
        # aggregate costs ~3x this in compile time alone).
        # EXACT-INTEGER sums (elements floor-quantized at 2^20, summed
        # as longs): a float sum here would depend on partition order,
        # making the fit non-reproducible run-to-run and impossible to
        # oracle. The integer sum is order-independent; the centroid is
        # then (s / n) / 2^20 — an IEEE-exact-integer division followed
        # by an exact power-of-two scale, bit-identical in any engine.
        # Quantization shifts each mean by < 2^-20 — noise relative to
        # Lloyd's own convergence tolerance.
        sums = (
            assign_cells(base, cents, vec_col="v")
            .select("cell", F.posexplode("v"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("col") * F.lit(float(SRP_QUANT))).cast("long")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cells keep their centroid
        for row in sums:
            new_cents[row["cell"]][row["pos"]] = row["s"] / row["n"] / SRP_QUANT
        cents = new_cents

    out = assign_cells(base, cents, vec_col="v").select("id", "cell")
    # The returned plan re-derives from the (now final) literal
    # centroids; drop the training cache so it doesn't outlive the fit.
    base.unpersist()
    return cents, out


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the memory/IO compression tier of the ANN
# stack: 8-bit codes cut vector storage and scan bytes 4x vs float32
# (8x vs the double math tier), which at 100 TB of embeddings is the
# difference between a cached index and a disk-bound one. The reference
# has no vector surface at all; this mirrors the faiss
# ScalarQuantizer(QT_8bit) / Milvus SQ8 design: train per-dimension
# bounds once, encode to int8, score with EXACT integer dot products.
# ---------------------------------------------------------------------------


def _unit(v: Column) -> Column:
    """L2-normalize an array<double> (zero vectors pass through
    unchanged — their codes become all-zero instead of NaN)."""
    n = l2_norm(v)
    return F.when(n == 0.0, v).otherwise(F.transform(v, lambda x: x / n))


def sq8_calibrate(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """ONE-row calibration pass: the GLOBAL max |x| over the
    L2-NORMALIZED vectors (SQ8 here scores cosine, so unit vectors are
    what gets encoded — the faiss IP-metric convention).

    ONE scale, not per-dimension — this is load-bearing for
    correctness, found by the hypothesis property suite: scoring raw
    integer dots under per-dimension scales implicitly reweights
    dimension d by 1/s_d^2 (code_d ~ x_d*127/s_d), a DISTORTED metric
    whose recall@10 measured 0.78 on the test corpus; with a single
    scale the integer dot is exactly proportional to the true dot
    (one constant s^2/127^2) and recall@10 is 1.0 on the same corpus.
    Per-dimension scales belong to RECONSTRUCTING quantizers (PQ's ADC
    reconstructs via codebooks, so it keeps them), never to raw-code
    dot products.

    Shape at scale: explode -> one max aggregate — partial-agg'd, the
    exchange carries one double per upstream partition. Kept as a
    DataFrame (not collected) so serving plans broadcast it without a
    driver round-trip."""
    v = _unit(_as_double(vec_col))
    return emb.select(F.explode(v).alias("x")).agg(
        F.max(F.abs(F.col("x"))).alias("scale")
    )


def sq8_encode(
    emb: DataFrame,
    scales: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "code",
) -> DataFrame:
    """Encode L2-normalized vectors to int8-range codes:
    floor(x * 127 / scale + 0.5) clamped to [-127, 127] (symmetric
    round-to-nearest under the single global scale — see
    sq8_calibrate for why per-dimension scales would corrupt raw-dot
    ranking; an all-zero corpus encodes to 0). floor(x + 0.5) — not an
    engine round() builtin — because floor is IEEE-exact and identical
    across engines (round() half-away vs half-even differs), so codes
    are bit-reproducible and the DuckDB oracle can replay them
    hash-for-hash. The scale row joins in as a broadcast scalar;
    encoding itself is a narrow transform map (whole-stage codegen, no
    Python, no shuffle)."""
    v = _unit(_as_double(vec_col))
    s = F.col("_scale")
    code = F.transform(
        v,
        lambda x: F.when(s == 0.0, F.lit(0).cast("long")).otherwise(
            F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.floor(x * F.lit(127.0) / s + F.lit(0.5)),
                ),
            )
        ),
    )
    return (
        emb.crossJoin(F.broadcast(scales.select(F.col("scale").alias("_scale"))))
        .select(F.col(id_col), code.alias(out_col))
    )


def sq8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over SQ8 codes — integer dot products, so
    scores are EXACT int64 (hash-identical across engines, no float
    tolerance anywhere), and under the global scale the integer dot is
    PROPORTIONAL to the true unit-vector dot (ranking differs from
    exact cosine only by quantization noise, not by metric shape —
    recall@10 measured 1.0 on the test corpus). Output:
    (query_id, neighbor_id, qdot), k rows per query, ties broken by
    neighbor_id.

    Scale shape: identical to brute_force_topk (broadcast query codes,
    one narrow pass over candidates, per-partition then global top-k)
    — but the scanned payload is int8-range codes instead of doubles,
    and the score loop is integer multiply-add. Recall vs the exact
    float baseline is asserted in tests/test_similarity.py."""
    # spread_partitions: encode + integer-dot scoring are interpreted
    # HOF chains; a one-split scan runs them on one core (guarded — a
    # no-op at real scale). Scores are row-local, so values are
    # partition-independent.
    coded = sq8_encode(
        spread_partitions(emb), sq8_calibrate(emb, vec_col), id_col, vec_col
    )
    queries = coded.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("code").alias("_qc")
    )
    idot = F.aggregate(
        F.zip_with(F.col("_qc"), F.col("code"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = coded.join(
        F.broadcast(queries), F.col(id_col) != F.col("query_id")
    ).select(
        "query_id", F.col(id_col).alias("neighbor_id"), idot.alias("qdot")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the second compression tier: m sub-space
# codebooks of ksub entries give m*log2(ksub)-bit codes (8 bytes/vector
# at the defaults vs 256 for float32 dim-64 — a 32x scan-byte cut), and
# query scoring is ADC (asymmetric distance computation: exact query
# subvectors against codebook-reconstructed candidates). Codebooks here
# are md5-SAMPLED rows rather than per-subspace Lloyd's: deterministic
# and engine-portable, so the DuckDB oracle replays codes and distances
# exactly (production would train them with the kmeans_fit machinery
# above; the plan shape — literal codebooks, narrow argmin encode map —
# is identical either way).
# ---------------------------------------------------------------------------

PQ_M = 8  # sub-spaces
PQ_KSUB = 16  # codebook entries per sub-space (4-bit codes)


def pq_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """``m x ksub x (dim/m)`` codebooks from the ksub rows with the
    smallest (md5(id), id) — the same portable sampler kmeans_fit uses
    for init. Driver holds m*ksub*dsub doubles (KBs), the Lloyd's
    contract."""
    dsub = dim // m
    rows = (
        emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .withColumn("h", F.md5(F.col("id").cast("string")))
        .orderBy("h", "id")
        .limit(ksub)
        .select("v")
        .collect()
    )
    return [
        [list(r["v"][j * dsub : (j + 1) * dsub]) for r in rows] for j in range(m)
    ]


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PQ-encode each vector: per sub-space, the index of the nearest
    codebook entry (squared L2, ties to the lowest index — the
    assign_cells convention). The codebooks ride the plan as ONE
    nested literal, so encoding is a narrow codegen map: no join, no
    shuffle, no Python. ``extra_cols`` pass through unchanged (e.g.
    the IVF block column, so ivfpq_topk needs no re-join to recover
    block membership)."""
    m = len(codebooks)
    if not codebooks or not codebooks[0]:
        # empty corpus -> empty codebooks: no rows can be encoded (an
        # untyped [] literal would not even type-check in the plan)
        return emb.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.lit(None).cast("array<int>").alias(out_col),
        ).limit(0)
    dsub = dim // m
    v = _as_double(vec_col)

    def sub_d2(j: int) -> Column:
        sub = F.slice(v, j * dsub + 1, dsub)
        cb = lit_matrix(codebooks[j])
        return F.transform(
            cb,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    # Stage each sub-space's distance list as a NAMED column, then take
    # the argmin from the attribute: the previous inline form
    # (array_position(d2, array_min(d2))) instantiated every d2 tree —
    # 16 interpreted aggregate-over-zip_with folds plus the ksub x dsub
    # literal — TWICE per sub-space, doubling both the Catalyst tree the
    # optimizer walks (measured: ~2-3 s single-threaded planning per PQ
    # query at any scale, guide §7.3) and the per-row interpreted
    # evaluation. CollapseProject keeps the boundary because the alias
    # is non-cheap and referenced twice, so each d2 now evaluates once.
    staged = emb.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        *[sub_d2(j).alias(f"__pqd{j}") for j in range(m)],
    )
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.array(
            *[
                (
                    F.array_position(
                        F.col(f"__pqd{j}"), F.array_min(F.col(f"__pqd{j}"))
                    )
                    - 1
                ).cast("int")
                for j in range(m)
            ]
        ).alias(out_col),
    )


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Top-k by ADC distance: the EXACT query vector scored against
    each candidate's codebook reconstruction — sum over sub-spaces of
    ||q_j - c_{j, code_j}||^2. Output (query_id, neighbor_id, adist),
    k rows per query, ascending distance, ties by neighbor_id.

    Metric note: ADC ranks in L2 space over the RAW vectors (the faiss
    IndexPQ default). On unit-norm corpora — this repo's embeddings
    table, and any cosine deployment worth its salt — L2 and cosine
    order identically (||a-b||^2 = 2 - 2cos); on unnormalized data
    this is L2-ANN, not cosine-ANN: normalize upstream if cosine is
    the contract. (Unlike SQ8's raw-code dots, per-sub-space codebook
    geometry is sound here because ADC RECONSTRUCTS before
    differencing.)

    Scale shape: candidates are scanned as m small-int codes (32x
    fewer bytes than the float vectors); queries broadcast with their
    raw subvectors; reconstruction indexes the literal codebook — all
    codegen, no Python, one narrow pass + per-partition top-k. Every
    arithmetic step is IEEE-deterministic in scan order-independent
    form, so the DuckDB oracle matches bit-for-bit."""
    dsub = dim // m
    if codebooks is None:
        # default: the md5-sampled (zero-iteration) codebooks; pass
        # pq_codebooks_trained(...) for the Lloyd-trained index
        codebooks = pq_codebooks(emb, dim, m, ksub, id_col, vec_col)
    if not codebooks or not codebooks[0]:
        # empty corpus: no codebooks, no candidates — degrade to an
        # empty, correctly-typed result instead of a plan type error
        return emb.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("adist"),
        ).limit(0)
    # spread_partitions on the candidate scan: the encode argmin and
    # the ADC fold are interpreted HOF chains — parallelize them across
    # cores (guarded; row-local values, partition-independent).
    coded = pq_encode(spread_partitions(emb), codebooks, dim, id_col, vec_col)
    queries = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
        )
    )
    cb_lit = lit_cube(codebooks)
    # reconstruction: flatten(codebook[j][code_j]) in sub-space order
    recon = F.flatten(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.element_at(cb_lit, j + 1), c + 1),
        )
    )
    adist = F.aggregate(
        F.zip_with(F.col("_qv"), recon, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = coded.join(
        F.broadcast(queries), F.col(id_col) != F.col("query_id")
    ).select(
        "query_id", F.col(id_col).alias("neighbor_id"), adist.alias("adist")
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    shortlist: int = 50,
    dim: int = 64,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ serving shape: ADC over the compressed codes
    builds a ``shortlist``-sized candidate set per query (scanning 32x
    fewer bytes than the float vectors), then EXACT cosine re-ranks
    just those candidates to the final top-k. At 1B vectors the exact
    stage touches shortlist/N of the corpus — the float vectors are
    fetched only for candidates (here: a semi-join back to the narrow
    (id, vec) projection).

    Output (query_id, neighbor_id, cos) — identical schema to
    brute_force_topk minus rnk, so recall comparisons are direct."""
    cand = pq_adc_topk(
        emb, query_ids, k=shortlist, dim=dim, m=m, ksub=ksub,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    base = emb.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    queries = base.where(F.col("_id").isin(query_ids)).select(
        F.col("_id").alias("_qid"), F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
    )
    exact = (
        cand.join(base, cand.neighbor_id == F.col("_id"))
        .join(F.broadcast(queries), cand.query_id == F.col("_qid"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_n"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The full FAISS-IVFPQ serving shape (IndexIVFPQ), composing the
    two ANN tiers this module already certifies separately:

      1. COARSE PROBE — per-block exact-integer centroids
         (:func:`_exact_block_centroids`, the ivf_topk quantizer);
         each query scans only its ``nprobe`` best blocks. Scan
         fraction = nprobe/nlist before a single vector byte is read.
      2. ADC SHORTLIST — within probed blocks, vectors are scanned as
         ``m`` 4-bit PQ codes (32x fewer bytes than float32) and
         scored asymmetrically against the exact query subvectors;
         top-``shortlist`` per query survive.
      3. EXACT RERANK — float vectors are fetched ONLY for shortlist
         candidates (broadcast semi-join back to the corpus) and exact
         cosine picks the final top-k.

    At 1B vectors the three stages touch, respectively: k_blocks
    centroids (driver-size), (nprobe/nlist) x N x m bytes of codes,
    and shortlist x |queries| float vectors — the multiplicative
    cost cut that makes billion-scale ANN serveable, here as one
    declarative plan (broadcast probe -> codegen encode of the pruned
    fraction only -> windowed top-k -> semi-join rerank; no Python,
    no shuffle beyond the two windows).

    Every stage is IEEE-deterministic (exact-integer centroids,
    md5-sampled codebooks, literal-argmin encode, sequential folds),
    so the DuckDB oracle (plans/vectors.py::ann_ivfpq_topk) replays
    probe rankings, codes, ADC distances, and the rerank bit-for-bit.
    Output (query_id, neighbor_id, cos), identical schema to
    pq_rerank_topk so recall comparisons are direct.
    """
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("blk"),
        _as_double(vec_col).alias("_v"),
    )
    if codebooks is None:
        # the index's codebooks train on the FULL corpus (an offline
        # build artifact, same contract as pq_adc_topk's default)
        codebooks = pq_codebooks(emb, dim, m, ksub, id_col, vec_col)
    if not codebooks or not codebooks[0]:
        # empty corpus -> empty codebooks: degrade to a typed empty
        # result (an untyped [] literal would not even type-check)
        return emb.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cos"),
        ).limit(0)
    queries = base.where(F.col("_id").isin(query_ids)).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("_qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("blk")
    )
    probed = (
        queries.crossJoin(F.broadcast(_exact_block_centroids(base)))
        .select(
            "query_id",
            "_qv",
            "blk",
            cosine(F.col("_qv"), F.col("cent")).alias("cent_cos"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "_qv", F.col("blk").alias("_pblk"))
    )
    # prune FIRST, encode the surviving fraction once: a broadcast
    # semi-join on the distinct probed blocks keeps the (up to
    # |queries| x nprobe)-way probe fan-out from re-encoding a row per
    # matching query. (In the deployed index the codes are of course
    # precomputed; encoding here stands in for the code-column scan.)
    # spread_partitions AFTER the probe-prune, and only here (round-15,
    # fixing the round-14 regression 2.85 -> 4.03 s): wrapping the FULL
    # base scan repartitioned 100% of the corpus only to discard the
    # unprobed blocks, and every other consumer of base (queries,
    # centroids, rerank fetch) inherited the exchange. Only the
    # encode+ADC interpreted-HOF work needs cores; the split-count
    # guard probes the NARROW base scan (the semi-join itself is not
    # .rdd-safe under AQE — see spread_partitions' precondition).
    pruned = spread_partitions(
        base.join(
            F.broadcast(probed.select("_pblk").distinct()),
            base["blk"] == F.col("_pblk"),
            "leftsemi",
        ),
        probe=base,
    )
    coded = pq_encode(
        pruned, codebooks, dim, id_col="_id", vec_col="_v", extra_cols=("blk",)
    )
    cb_lit = lit_cube(codebooks)
    recon = F.flatten(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.element_at(cb_lit, j + 1), c + 1),
        )
    )
    adist = F.aggregate(
        F.zip_with(F.col("_qv"), recon, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = coded.join(
        F.broadcast(probed),
        (F.col("blk") == F.col("_pblk")) & (F.col("_id") != F.col("query_id")),
    ).select("query_id", F.col("_id").alias("neighbor_id"), adist.alias("adist"))
    sl_w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    cand = (
        scored.withColumn("_rn", F.row_number().over(sl_w))
        .where(F.col("_rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact rerank: float vectors fetched only for shortlist candidates
    vecs = base.select("_id", "_v").withColumn("_n", l2_norm(F.col("_v")))
    qn = queries.select(
        F.col("query_id").alias("_qid"),
        F.col("_qv").alias("_qv2"),
        l2_norm(F.col("_qv")).alias("_qn"),
    )
    exact = (
        cand.join(vecs, cand["neighbor_id"] == F.col("_id"))
        .join(F.broadcast(qn), cand["query_id"] == F.col("_qid"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("_qv2"), F.col("_v")) / (F.col("_qn") * F.col("_n"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_codebooks_trained(
    emb: DataFrame,
    dim: int,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """TRAINED PQ codebooks: per-sub-space Lloyd's k-means, reusing
    kmeans_fit (md5-ordered init, exact-integer update sums — each
    codebook is bit-reproducible, same as the sampled form). This is
    faiss's actual ProductQuantizer training; the md5-sampled
    pq_codebooks is its deterministic zero-iteration special case
    (iters x m small aggregate jobs here vs one sample there — train
    offline, like any index). Measured on the test corpus: raw-ADC
    recall@10 roughly triples vs sampled codebooks (still
    capacity-bound — 8-byte codes can't resolve ~0.003 cosine gaps)."""
    dsub = dim // m
    books = []
    for j in range(m):
        sub = emb.select(
            F.col(id_col).alias("id"),
            F.slice(_as_double(vec_col), j * dsub + 1, dsub).alias("sub"),
        )
        cents, _ = kmeans_fit(sub, k=ksub, iters=iters, id_col="id", vec_col="sub")
        books.append(cents)
    return books


def mmr_rerank(
    shortlist: DataFrame,
    sims: DataFrame,
    lam: float = 0.7,
    k: int = 5,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — greedy diversity-aware selection over a per-query
    shortlist: at each step pick the candidate maximizing

        mmr(c) = lam * rel(c) - (1-lam) * max_{s in selected} sim(c, s)

    (max over the empty set defined as 0.0). The serving shape that
    keeps a RAG/recommendation result list from being k copies of the
    same document — relevance alone returns near-duplicates; the
    diversity term suppresses them.

    Inputs: ``shortlist`` (query_id, neighbor_id, rel) — the top-N
    relevance candidates per query (N is the shortlist bound, k <= N);
    ``sims`` (query_id, a, b, sim) — pairwise similarities WITHIN each
    query's shortlist. Output: (query_id, pick, doc, rel, mmr), pick =
    1..k in selection order.

    Greedy selection is inherently sequential in k, but every frame
    here is O(queries x shortlist) rows BY CONTRACT (the serving
    shortlist, KBs at any corpus scale — the upstream ANN stages did
    the data-sized work), so all k steps run as ONE higher-order
    aggregate fold per query inside a single lazy plan (round 15,
    guide §1.2/§2.2: the previous per-step join + localCheckpoint loop
    paid k+2 eager driver jobs — 7 jobs, ~2.0 s of the 2.5 s query
    wall — to move KBs). Semantics are unchanged step for step:

      - candidates are folded in neighbor_id-ascending order with a
        strictly-greater replace, which is exactly row_number over
        (mmr DESC NULLS LAST, neighbor_id ASC) = 1 — ties keep the
        smallest doc id, a NULL mmr (NULL rel) loses to any non-null
        one, and Spark's NaN-is-greatest comparison matches the old
        window sort;
      - ms = array_max over the selected-set sims is the old
        groupBy.max; a candidate with no sims row against the selected
        set gets NULL -> coalesce 0.0, the old left-join behavior;
      - the mmr expression is literal-for-literal the old one
        (repr'd doubles round-trip IEEE-exactly).

    Determinism: ties broken by doc id; both engines order by the
    identical IEEE mmr expression, so a DuckDB oracle replays all k
    steps as an unrolled CTE chain. Value identity vs the old loop is
    pinned by tests/test_optimization_r15.py::test_mmr_hof_matches_join_loop."""
    lam_s, one_m = f"{float(lam)!r}D", f"{(1.0 - float(lam))!r}D"

    # Per-query fold: state `st` = the picks-so-far array (pick order =
    # array position). Each step re-derives the unpicked candidates
    # from the outer `cands` (neighbor_id-ascending), scores them, and
    # appends the argmax. The seed's empty array is sliced from a
    # transform of cands so the element type (incl. the caller's id
    # type) is inferred, never hardcoded.
    def _scored(rem: str) -> str:
        return (
            f"transform({rem}, c -> named_struct("
            f"'doc', c.neighbor_id, 'rel', c.rel, "
            f"'mmr', {lam_s} * c.rel - {one_m} * coalesce("
            "array_max(transform("
            "filter(sp, p -> p.a = c.neighbor_id"
            " AND exists(st, s -> s.doc = p.b)),"
            " p -> p.sim)), 0.0D)))"
        )

    rem = "filter(cands, c0 -> NOT exists(st, s0 -> s0.doc = c0.neighbor_id))"
    scored = _scored(rem)
    # element_at(scored, 1) as the fold seed: folding the first element
    # against itself is a no-op under the strictly-greater replace, so
    # ties keep the earliest (= smallest neighbor_id) element — exactly
    # row_number over (mmr DESC NULLS LAST, neighbor_id ASC) = 1. A
    # non-null mmr replaces a NULL one (NULL rel), so a NULL seed never
    # sticks.
    best = (
        f"aggregate({scored}, element_at({scored}, 1),"
        " (b, s1) -> IF(s1.mmr > b.mmr"
        " OR (b.mmr IS NULL AND s1.mmr IS NOT NULL), s1, b))"
    )
    # The seed's mmr field must be nullable: the fold state takes its
    # element type from the seed, and a non-nullable field would read a
    # NULL-rel pick's NULL mmr back as 0.0.
    seed = (
        "slice(transform(cands, c -> named_struct("
        "'doc', c.neighbor_id, 'rel', c.rel,"
        " 'mmr', CAST(NULL AS DOUBLE))), 1, 0)"
    )
    sel_expr = (
        f"aggregate(sequence(1, {int(k)}), {seed},"
        f" (st, t) -> IF(size({rem}) = 0, st,"
        f" concat(st, array({best}))))"
    )
    shortg = (
        shortlist.select("query_id", "neighbor_id", "rel")
        .groupBy("query_id")
        .agg(
            F.expr(
                "array_sort(collect_list(struct(neighbor_id, rel)))"
            ).alias("cands")
        )
    )
    simsg = (
        sims.select("query_id", "a", "b", "sim")
        .groupBy("query_id")
        .agg(F.collect_list(F.struct("a", "b", "sim")).alias("sp"))
    )
    # left join: a query with no sims rows gets sp = NULL, which
    # null-propagates through filter/transform/array_max to NULL ->
    # coalesce 0.0 — byte-for-byte the old left-join ms semantics.
    g = shortg.join(simsg, "query_id", "left")
    return (
        g.select(
            "query_id", F.posexplode(F.expr(sel_expr)).alias("pos", "s")
        )
        .select(
            "query_id",
            F.col("s.doc").alias("doc"),
            (F.col("pos") + F.lit(1)).alias("pick"),
            F.col("s.rel").alias("rel"),
            F.col("s.mmr").alias("mmr"),
        )
    )
