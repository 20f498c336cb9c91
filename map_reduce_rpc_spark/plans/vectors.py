"""Similarity-search queries over the ``embeddings`` table
(vec_id bigint, embedding array<float> dim=64, label int).

Cosine math runs on array<double> with sequential-order dot products in
both engines (zip_with+aggregate in Spark, manual list ops in DuckDB),
so results are bit-identical doubles and hash-match without tolerance.

Every query here is fully DuckDB-oracled, including both ANN paths:
centroids derive from EXACT-INTEGER sums (elements floor-quantized at
2^20), so IVF probe rankings and the k-means fit are bit-reproducible
— the k-means oracle replays all Lloyd iterations as an unrolled CTE
chain. tests/test_similarity.py additionally checks ANN recall against
the exact brute-force baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity
from ..tables import load_table, source_fingerprint, spread_partitions

QUERY_IDS = list(range(8))
TOP_K = 10
NEAR_DUP_THRESHOLD = 0.9
# SRP family parameters — must mirror operators/similarity defaults
# (srp_signatures seed/n_bits, srp_near_dup_pairs bands) so the oracle
# replays the identical hash family.
SRP_SEED = 42
SRP_BITS = 64
SRP_BANDS = 8
SRP_BAND_WIDTH = SRP_BITS // SRP_BANDS

# sequential-order dot product of two DOUBLE[] lists in DuckDB SQL —
# list_dot_product would also work, but an explicit fold keeps the
# float operation order pinned to Spark's aggregate(zip_with(...)).
_DOT = (
    "list_aggregate(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), 'sum')"
)


def _cos(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors vec_id 0..7."""
    return similarity.brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, k=TOP_K
    )


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine >= 0.9 pairs within each label block."""
    return similarity.blocked_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=NEAR_DUP_THRESHOLD
    )


FILTER_LABELS = (0, 2, 4, 6, 8)  # metadata predicate: even label blocks


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (exact top-10 among even-label vectors)
    — the "ANN + metadata WHERE clause" serving shape. PRE-filter
    strategy: the label predicate reaches the parquet scan as a
    PushedFilter, so at 100 TB only matching row groups are read and
    no distance is ever computed for a non-matching vector; a
    post-filter over an unfiltered shortlist would instead return
    short result lists whenever the predicate is selective. Exact
    within the filtered set, so fully oracled."""
    return similarity.filtered_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_IDS,
        labels=FILTER_LABELS,
        k=TOP_K,
    )


IVF_NPROBE = 5


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 (probe 5 of the 10 label blocks) — FULLY oracled
    since round 4: block centroids derive from exact integer sums
    (floor-quantized at 2^20), so centroid values, probe rankings, and
    the final exact cosines are all bit-identical to the DuckDB replay
    below. Recall vs brute force additionally asserted in
    tests/test_similarity.py. (The synthetic labels are weak clusters,
    so recall here tracks the scanned fraction; with real k-means
    cells the same plan gives recall >> scanned fraction.)"""
    return similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, k=TOP_K, nprobe=IVF_NPROBE
    )


KMEANS_K = 8
KMEANS_ITERS = 4

# Trained-centroid cache: kmeans_fit is DETERMINISTIC (md5-ordered
# init, literal-argmin assignment, exact-integer update sums), so the
# k x dim centroid matrix is a pure value of (embeddings content, k,
# iters), the content keyed by tables.source_fingerprint — plain
# floats with no session affinity, safe across session recycling
# (unlike cached DataFrames; cf. textops._PAIRS_CACHE which must key by
# applicationId). Production reading: an IVF index is trained OFFLINE
# and reused by every serving query; refitting per query would be
# rebuilding the index on every search.
_CENTROID_CACHE: dict[tuple[str, int, int], list[list[float]]] = {}


def _fit_centroids(emb, sf_dir: str, k: int, iters: int) -> list[list[float]]:
    key = (source_fingerprint(sf_dir, ("embeddings",)), k, iters)
    cents = _CENTROID_CACHE.get(key)
    if cents is None:
        cents, _cells = similarity.kmeans_fit(emb, k=k, iters=iters)
        _CENTROID_CACHE[key] = cents
    return cents


KMEANS_NPROBE = 3


def ann_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 over TRAINED cells: distributed Lloyd's k-means
    (operators/similarity.kmeans_fit) learns the inverted file, then
    the same probe plan as ann_ivf_topk runs against it. The fitted
    centroid matrix flows straight into the serving plan: cell
    assignment is a narrow literal-argmin map (assign_cells — no join
    with an assignment table) and ivf_topk(centroids=...) skips the
    per-block mean re-aggregation the fit already did.

    FULLY oracled since round 4: the fit is bit-reproducible (md5-
    ordered init, literal-centroid argmin assignment, exact-integer
    update sums), so the DuckDB oracle replays ALL {iters} Lloyd
    iterations as an unrolled CTE chain (assignment -> quantized sums
    -> new centroids, empty cells inheriting), then the probe + exact
    cosine top-k. tests/test_similarity.py additionally asserts
    determinism, inertia descent, and recall at least matching the
    label-block IVF."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _fit_centroids(emb, sf_dir, KMEANS_K, KMEANS_ITERS)
    return similarity.ivf_topk(
        similarity.assign_cells(emb, cents),
        QUERY_IDS,
        k=TOP_K,
        nprobe=KMEANS_NPROBE,
        block_col="cell",
        centroids=cents,
    )


def _kmeans_ctes(k: int, iters: int) -> list[str]:
    """Shared unrolled-Lloyd CTE prefix: base -> cent0 (md5-ordered
    init) -> [assign -> exact-integer update]*iters -> afin (final
    assignment with column ``cell``). Every stage's floats are either
    per-row sequential folds or exact-integer divisions, so the chain
    is bit-identical to the Spark ``kmeans_fit`` + ``assign_cells``.
    Reused by the ann_kmeans_topk and semantic_dedup_cells oracles."""
    Q = similarity.SRP_QUANT

    def d2(v: str, c: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, len({v}) + 1), "
            f"i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), 'sum')"
        )

    ctes = [
        """base AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        )""",
        f"""cent0 AS (
            SELECT cell, cent FROM (
                SELECT row_number() OVER (
                           ORDER BY md5(CAST(id AS VARCHAR)), id
                       ) - 1 AS cell,
                       v AS cent
                FROM base
            ) WHERE cell < {k}
        )""",
    ]
    for it in range(1, iters + 1):
        prev = f"cent{it - 1}"
        ctes.append(
            f"""a{it} AS (
            SELECT id, v, cell FROM (
                SELECT b.id, b.v, c.cell,
                       row_number() OVER (
                           PARTITION BY b.id
                           ORDER BY {d2("b.v", "c.cent")}, c.cell
                       ) AS rn
                FROM base b, {prev} c
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""cent{it} AS (
            SELECT cell, list(m ORDER BY pos) AS cent FROM (
                SELECT a.cell, t.i - 1 AS pos,
                       (CAST(sum(CAST(floor(a.v[t.i] * {Q}) AS BIGINT))
                             AS DOUBLE) / count(*)) / {Q} AS m
                FROM a{it} a, unnest(range(1, len(a.v) + 1)) AS t(i)
                GROUP BY a.cell, t.i
            ) GROUP BY cell
            UNION ALL
            SELECT p.cell, p.cent FROM {prev} p
            WHERE p.cell NOT IN (SELECT DISTINCT cell FROM a{it})
        )"""
        )
    final_cent = f"cent{iters}"
    ctes.append(
        f"""afin AS (
            SELECT id, v, cell FROM (
                SELECT b.id, b.v, c.cell,
                       row_number() OVER (
                           PARTITION BY b.id
                           ORDER BY {d2("b.v", "c.cent")}, c.cell
                       ) AS rn
                FROM base b, {final_cent} c
            ) WHERE rn = 1
        )"""
    )
    return ctes


def _kmeans_oracle_sql() -> str:
    """ann_kmeans_topk oracle: shared Lloyd prefix -> probe -> exact
    cosine top-k."""
    iters, nprobe = KMEANS_ITERS, KMEANS_NPROBE
    ctes = _kmeans_ctes(KMEANS_K, iters)
    final_cent = f"cent{iters}"
    ctes.append(
        f"""q AS (
            SELECT id AS query_id, v AS qv,
                   sqrt({_DOT.format(a="v", b="v")}) AS qn
            FROM base WHERE id IN ({_QID_LIST})
        )"""
    )
    ctes.append(
        f"""probed AS (
            SELECT query_id, qv, qn, cell FROM (
                SELECT q.query_id, q.qv, q.qn, c.cell,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_cos("q.qv", "c.cent")} DESC, c.cell
                       ) AS pr
                FROM q, {final_cent} c
            ) WHERE pr <= {nprobe}
        )"""
    )
    ctes.append(
        f"""scored AS (
            SELECT p.query_id, a.id AS neighbor_id,
                   {_DOT.format(a="p.qv", b="a.v")}
                       / (p.qn * sqrt({_DOT.format(a="a.v", b="a.v")})) AS cos
            FROM afin a JOIN probed p
              ON a.cell = p.cell AND a.id <> p.query_id
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {TOP_K}
    """
    )


def srp_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH cosine near-dup pairs (>= 0.9), exact-verified — FULLY
    oracled: the md5-derived ±1 hyperplanes and the integer-quantized
    projection (operators/similarity.srp_plane_sign / SRP_QUANT) are
    replayed bit-for-bit by the DuckDB oracle below
    (signatures -> bands -> bucket join -> exact-cosine verify).
    Recall is additionally proven on planted near-duplicates in
    tests/test_similarity.py; the natural table has no pairs above
    threshold (max pairwise cos ~0.6), so agreement with
    embedding_near_dups is asserted there too."""
    return similarity.srp_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=NEAR_DUP_THRESHOLD,
        # Pinned (not auto-calibrated): the oracle below replays exactly
        # this 8x8-bit family; auto-sizing would drift the band width
        # with corpus count.
        n_bits=SRP_BITS,
        bands=SRP_BANDS,
    )


SEMDEDUP_THRESHOLD = 0.35


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup end to end: cluster-blocked
    exact-cosine pairs above SEMDEDUP_THRESHOLD -> within-block
    components -> keeper (min vec_id) per semantic cluster; singletons
    keep themselves. Output (vec_id, component, is_keeper) — drop
    is_keeper=false rows to semantically dedup the corpus.

    Blocks here are the label column so the whole pipeline is
    oracle-able (recursive-CTE closure over the same exact pairs); with
    no natural blocks, train cells via kmeans_fit and swap
    assign_cells in as the block column — the plan shape (blocked pair
    generation, within-block closure) is identical.

    Scale shape (round 5): pairs never cross a block, so the closure
    runs as ONE grouped union-find (graph.components_within_blocks)
    instead of global iterative CC — this cut the query from 9.2 s to
    the pair-generation cost alone at sf0.1. The candidate stage stays
    exact-cosine WITHIN blocks, which is the published SemDeDup design:
    the lever at 100 TB is block size (k-means cells sized n/k keep
    each block's quadratic term bounded), not LSH — at this semantic
    threshold (0.35) SRP-LSH banding has near-zero selectivity (bit
    agreement ~0.61 -> an 8-bit band collides at ~2%; recall ~15%), so
    hashing can only replace exact candidates at near-duplicate
    thresholds (>= ~0.9; that path ships as srp_near_dup_pairs).
    """
    from ..operators.graph import components_within_blocks

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.blocked_near_dup_pairs(
        emb, threshold=SEMDEDUP_THRESHOLD, keep_block_col=True
    )
    comp = components_within_blocks(pairs, block_col="blk").select(
        F.col("node").alias("vec_id"), F.col("component")
    )
    return (
        emb.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
            (
                F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id")
            ).alias("is_keeper"),
        )
    )


SEMDEDUP_CELLS_K = 8
SEMDEDUP_CELLS_ITERS = 2


def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with NO natural block column — the 100 TB form:
    distributed k-means (kmeans_fit, 8 cells x 2 Lloyd iterations)
    learns the blocks, assign_cells attaches them as a narrow
    literal-argmin map, then the same blocked exact-cosine pair stage
    and single-shuffle union-find closure as semantic_dedup run within
    the LEARNED cells. At scale k grows with N so cells stay bounded
    (~n/k rows) and the within-cell quadratic term never explodes —
    this query certifies that entire pipeline end to end.

    Fully oracled: the DuckDB replay composes the unrolled-Lloyd CTE
    chain (bit-identical fit, the ann_kmeans_topk machinery) with the
    pair + recursive-closure replay of semantic_dedup — every float is
    a sequential fold or exact-integer division, so keepers hash-match
    exactly."""
    from ..operators.graph import components_within_blocks

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _fit_centroids(emb, sf_dir, SEMDEDUP_CELLS_K, SEMDEDUP_CELLS_ITERS)
    celled = similarity.assign_cells(emb, cents)
    pairs = similarity.blocked_near_dup_pairs(
        celled,
        threshold=SEMDEDUP_THRESHOLD,
        block_col="cell",
        keep_block_col=True,
    )
    comp = components_within_blocks(pairs, block_col="blk").select(
        F.col("node").alias("vec_id"), F.col("component")
    )
    return (
        emb.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
            (
                F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id")
            ).alias("is_keeper"),
        )
    )


def _semantic_cells_oracle_sql() -> str:
    """semantic_dedup_cells oracle: shared Lloyd prefix (afin = final
    cell assignment) -> within-cell exact-cosine pairs -> recursive
    transitive closure -> keepers."""
    ctes = _kmeans_ctes(SEMDEDUP_CELLS_K, SEMDEDUP_CELLS_ITERS)
    return (
        "WITH RECURSIVE "
        + ",\n        ".join(ctes)
        + f""",
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM afin a JOIN afin b ON a.cell = b.cell AND a.id < b.id
            WHERE {_cos("a.v", "b.v")} >= {SEMDEDUP_THRESHOLD}
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, r) AS (
            SELECT a AS node, a AS r FROM edges
            UNION
            SELECT e.a AS node, reach.r AS r
            FROM reach JOIN edges e ON e.b = reach.node
        ),
        comp AS (
            SELECT node, min(r) AS component FROM reach GROUP BY node
        )
        SELECT base.id AS vec_id,
               coalesce(comp.component, base.id) AS component,
               coalesce(comp.component, base.id) = base.id AS is_keeper
        FROM base LEFT JOIN comp ON comp.node = base.id
    """
    )


_QID_LIST = ", ".join(str(i) for i in QUERY_IDS)

VECTORS_ORACLES: dict[str, str] = {
    "similarity_topk": f"""
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        q AS (
            SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN ({_QID_LIST})
        ),
        scored AS (
            SELECT q.query_id, base.vec_id AS neighbor_id,
                   {_cos("q.qv", "base.v")} AS cos
            FROM base, q
            WHERE base.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    "ann_filtered_topk": f"""
        WITH base AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        q AS (
            SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN ({_QID_LIST})
        ),
        scored AS (
            SELECT q.query_id, base.vec_id AS neighbor_id, base.label,
                   {_cos("q.qv", "base.v")} AS cos
            FROM base, q
            WHERE base.vec_id <> q.query_id
              AND base.label IN ({", ".join(str(b) for b in FILTER_LABELS)})
        )
        SELECT query_id, neighbor_id, label, cos, rnk FROM (
            SELECT query_id, neighbor_id, label, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    "embedding_near_dups": f"""
        WITH base AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_cos("a.v", "b.v")} AS cos
        FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_cos("a.v", "b.v")} >= {NEAR_DUP_THRESHOLD}
    """,
    # Replays the full SRP pipeline bit-for-bit: ±1 hyperplane entries
    # from md5 (srp_plane_sign), embeddings floor-quantized to ints at
    # 2^20 (SRP_QUANT) so projection sums are exact integers in both
    # engines, 8 bands x 8 bits, bucket join, exact-cosine verify with
    # the pinned sequential fold (_cos).
    "srp_near_dups": f"""
        WITH base AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        quant AS (
            SELECT id, t.i - 1 AS d,
                   CAST(floor(v[t.i] * {similarity.SRP_QUANT}) AS BIGINT) AS q
            FROM base, unnest(range(1, len(v) + 1)) AS t(i)
        ),
        bits AS (
            SELECT id, tj.j AS j,
                   SUM(q * (CASE WHEN ('0x' || substring(
                            md5('srp:{SRP_SEED}:' || tj.j || ':' || d),
                            1, 1))::BIGINT % 2 = 1 THEN 1 ELSE -1 END)) > 0 AS bit
            FROM quant, unnest(range(0, {SRP_BITS})) AS tj(j)
            GROUP BY id, tj.j
        ),
        bands AS (
            SELECT id, j // {SRP_BAND_WIDTH} AS band_idx,
                   SUM(CASE WHEN bit
                       THEN (1::BIGINT << (j % {SRP_BAND_WIDTH})) ELSE 0 END
                   ) AS band_val
            FROM bits GROUP BY id, j // {SRP_BAND_WIDTH}
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.id < b.id
        )
        SELECT id_a, id_b, cos FROM (
            SELECT c.id_a, c.id_b, {_cos("va.v", "vb.v")} AS cos
            FROM cand c
            JOIN base va ON va.id = c.id_a
            JOIN base vb ON vb.id = c.id_b
        ) WHERE cos >= {NEAR_DUP_THRESHOLD}
    """,
    # Replays ivf_topk end to end: exact-integer block centroids
    # (floor-quantized element sums / counts — bit-identical doubles),
    # probe ranking by centroid cosine (sequential fold), exact cosine
    # within the probed blocks, deterministic tie-broken top-k.
    "ann_ivf_topk": f"""
        WITH base AS (
            SELECT vec_id AS id, label AS blk, embedding::DOUBLE[] AS v
            FROM embeddings
        ),
        quant AS (
            SELECT id, blk, t.i - 1 AS pos,
                   CAST(floor(v[t.i] * {similarity.SRP_QUANT}) AS BIGINT) AS qx
            FROM base, unnest(range(1, len(v) + 1)) AS t(i)
        ),
        cent AS (
            SELECT blk, list(m ORDER BY pos) AS cent FROM (
                SELECT blk, pos, CAST(sum(qx) AS DOUBLE) / count(*) AS m
                FROM quant GROUP BY blk, pos
            ) GROUP BY blk
        ),
        q AS (
            SELECT id AS query_id, v AS qv,
                   sqrt({_DOT.format(a="v", b="v")}) AS qn
            FROM base WHERE id IN ({_QID_LIST})
        ),
        probed AS (
            SELECT query_id, qv, qn, blk FROM (
                SELECT q.query_id, q.qv, q.qn, cent.blk,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_cos("q.qv", "cent.cent")} DESC, cent.blk
                       ) AS pr
                FROM q, cent
            ) WHERE pr <= {IVF_NPROBE}
        ),
        scored AS (
            SELECT p.query_id, b.id AS neighbor_id,
                   {_DOT.format(a="p.qv", b="b.v")}
                       / (p.qn * sqrt({_DOT.format(a="b.v", b="b.v")})) AS cos
            FROM base b JOIN probed p
              ON b.blk = p.blk AND b.id <> p.query_id
        )
        SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    # Same label-blocked exact pairs at the SemDeDup threshold, then a
    # recursive-CTE transitive closure (the dup_clusters oracle
    # pattern) and a left join so singleton vectors keep themselves.
    "semantic_dedup": f"""
        WITH RECURSIVE eb AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM eb a JOIN eb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {_cos("a.v", "b.v")} >= {SEMDEDUP_THRESHOLD}
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, r) AS (
            SELECT a AS node, a AS r FROM edges
            UNION
            SELECT e.a AS node, reach.r AS r
            FROM reach JOIN edges e ON e.b = reach.node
        ),
        comp AS (
            SELECT node, min(r) AS component FROM reach GROUP BY node
        )
        SELECT eb.vec_id,
               coalesce(comp.component, eb.vec_id) AS component,
               coalesce(comp.component, eb.vec_id) = eb.vec_id AS is_keeper
        FROM eb LEFT JOIN comp ON comp.node = eb.vec_id
    """,
}

VECTORS_ORACLES["ann_kmeans_topk"] = _kmeans_oracle_sql()
VECTORS_ORACLES["semantic_dedup_cells"] = _semantic_cells_oracle_sql()


EMB_DIM = 64  # embeddings table is fixed dim-64 (TESTDATA.md)


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by SQ8 scalar-quantized integer dot product for query
    vectors 0..7 — the compression tier of the ANN stack (int8 codes:
    4x fewer scan bytes than float32 at 100 TB). Calibration is one
    partial-agg'd pass (the GLOBAL max |x| over unit vectors — a
    single scale, so the integer dot is proportional to the true dot;
    per-dimension scales would silently reweight the metric, the bug
    the property suite caught at recall 0.78 vs 1.0 — see
    operators/similarity.sq8_calibrate); encoding is a narrow
    transform map off a broadcast scale row; scoring is EXACT int64
    multiply-add, so the oracle replays every code and score
    hash-for-hash with no float tolerance. Recall vs the exact float
    baseline is asserted in tests/test_similarity.py."""
    return similarity.sq8_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, k=TOP_K
    )


VECTORS_ORACLES["ann_sq8_topk"] = f"""
    WITH v0 AS (
        SELECT vec_id, embedding::DOUBLE[] AS e0,
               sqrt({_DOT.format(a="(embedding::DOUBLE[])", b="(embedding::DOUBLE[])")}) AS n
        FROM embeddings
    ),
    v AS (
        SELECT vec_id,
               CASE WHEN n = 0 THEN e0
                    ELSE list_transform(e0, x -> x / n) END AS e
        FROM v0
    ),
    scl AS (
        SELECT max(abs(t.x)) AS s FROM v, unnest(v.e) AS t(x)
    ),
    codes AS (
        SELECT vec_id,
               list_transform(e, x ->
                   CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
                        ELSE greatest(CAST(-127 AS BIGINT),
                                      least(CAST(127 AS BIGINT),
                                            CAST(floor(x * 127.0 / s + 0.5) AS BIGINT)))
                   END) AS c
        FROM v CROSS JOIN scl
    ),
    q AS (
        SELECT vec_id AS query_id, c AS qc FROM codes
        WHERE vec_id IN ({_QID_LIST})
    ),
    scored AS (
        SELECT q.query_id, codes.vec_id AS neighbor_id,
               CAST(list_aggregate(
                   list_transform(range(1, {EMB_DIM} + 1), i -> qc[i] * c[i]),
                   'sum') AS BIGINT) AS qdot
        FROM codes, q WHERE codes.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, qdot FROM (
        SELECT query_id, neighbor_id, qdot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qdot DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
"""


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by PQ/ADC distance for query vectors 0..7 — the second
    compression tier after SQ8: 8 sub-space codebooks of 16 entries
    give 4-bit-per-subspace codes (8 small ints per vector, a 32x
    scan-byte cut vs float32), scored asymmetrically (exact query
    subvectors vs codebook reconstructions). Codebooks are md5-sampled
    rows (the kmeans_fit init sampler), so the whole pipeline —
    sampling, encoding argmins, ADC folds — is IEEE-deterministic and
    the DuckDB oracle replays it distance-for-distance. Recall vs the
    exact baseline asserted in tests/test_similarity.py."""
    return similarity.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, k=TOP_K, dim=EMB_DIM
    )


def _pq_d2(j: str, i: str) -> str:
    """DuckDB: squared L2 between subvector j of e and codebook entry
    books[i]'s subvector j — sequential fold d=1..8, the zip_with
    order Spark uses."""
    diff = f"(e[({j}-1)*8+d] - books[{i}][({j}-1)*8+d])"
    return (
        f"list_aggregate(list_transform(range(1, 9), "
        f"d -> {diff} * {diff}), 'sum')"
    )


PQ_SHORTLIST = 50


def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ serving shape: ADC over 4-bit sub-space codes
    builds a 50-candidate shortlist per query (32x fewer scan bytes),
    then EXACT cosine re-ranks only those candidates to the top-10.
    Both stages are IEEE-deterministic (md5-sampled codebooks, literal
    argmin encode, sequential folds), so the oracle replays shortlist
    AND re-rank distance-for-distance. On this near-random corpus the
    8-byte code sits below the ~0.003 boundary cosine gaps, so the
    shortlist — not the re-rank — bounds recall (measured ~0.48 vs
    0.02 chance; structured corpora sit >0.95): see
    tests/test_similarity.py for the data-bound gate."""
    return similarity.pq_rerank_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_IDS,
        k=TOP_K,
        shortlist=PQ_SHORTLIST,
        dim=EMB_DIM,
    )


def _pq_oracle_sql(shortlist: int | None = None) -> str:
    """Shared PQ oracle builder: sample -> codebooks -> codes -> ADC
    scores. ``shortlist=None`` returns the raw ADC top-{TOP_K};
    a shortlist size returns the composed serving form (ADC
    shortlist -> exact cosine re-rank to top-{TOP_K}). One builder so
    the two oracles can never drift apart (a prior str.replace()
    assembly silently no-op'd under whitespace edits)."""
    base = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    cb AS (
        SELECT list(e ORDER BY h, vec_id) AS books FROM (
            SELECT vec_id, e, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM v ORDER BY h, vec_id LIMIT {similarity.PQ_KSUB}
        )
    ),
    codes AS (
        SELECT vec_id,
               list_transform(range(1, {similarity.PQ_M} + 1), j ->
                   list_position(
                       list_transform(range(1, {similarity.PQ_KSUB} + 1),
                                      i -> {_pq_d2('j', 'i')}),
                       list_min(
                           list_transform(range(1, {similarity.PQ_KSUB} + 1),
                                          i -> {_pq_d2('j', 'i')}))
                   ) - 1) AS c
        FROM v CROSS JOIN cb
    ),
    q AS (
        SELECT vec_id AS query_id, e AS qe FROM v
        WHERE vec_id IN ({_QID_LIST})
    ),
    scored AS (
        SELECT q.query_id, codes.vec_id AS neighbor_id,
               list_aggregate(list_transform(range(1, {EMB_DIM} + 1), i ->
                   (qe[i] - books[c[((i-1)//8)+1] + 1][i])
                   * (qe[i] - books[c[((i-1)//8)+1] + 1][i])), 'sum') AS adist
        FROM codes CROSS JOIN cb, q
        WHERE codes.vec_id <> q.query_id
    )"""
    if shortlist is None:
        return base + f"""
    SELECT query_id, neighbor_id, adist FROM (
        SELECT query_id, neighbor_id, adist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
"""
    return base + f"""
    , shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {shortlist}
    ),
    rerank AS (
        SELECT s.query_id, s.neighbor_id,
               {_cos("q.qe", "n.e")} AS cos
        FROM shortlist s
        JOIN q ON q.query_id = s.query_id
        JOIN v n ON n.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rr
        FROM rerank
    ) WHERE rr <= {TOP_K}
"""


VECTORS_ORACLES["ann_pq_adc_topk"] = _pq_oracle_sql()
VECTORS_ORACLES["ann_pq_rerank_topk"] = _pq_oracle_sql(shortlist=PQ_SHORTLIST)


PQ_TRAIN_ITERS = 2

# Trained-codebook cache — same rationale as _CENTROID_CACHE: the fit
# is deterministic (md5 init, exact-integer updates), so the m x ksub x
# dsub matrix is a pure value of its key, safe across session recycling.
_PQ_BOOKS_CACHE: dict[tuple[str, int, int, int], list[list[list[float]]]] = {}


def _trained_books(emb, sf_dir: str) -> list[list[list[float]]]:
    key = (
        source_fingerprint(sf_dir, ("embeddings",)),
        similarity.PQ_M,
        similarity.PQ_KSUB,
        PQ_TRAIN_ITERS,
    )
    books = _PQ_BOOKS_CACHE.get(key)
    if books is None:
        books = similarity.pq_codebooks_trained(
            emb, dim=EMB_DIM, iters=PQ_TRAIN_ITERS
        )
        _PQ_BOOKS_CACHE[key] = books
    return books


def ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-10 over TRAINED codebooks — per-sub-space Lloyd's
    k-means (pq_codebooks_trained, reusing the exact-integer kmeans_fit
    machinery), the faiss ProductQuantizer training the md5-sampled
    query approximates at zero iterations. FULLY oracled: the DuckDB
    replay unrolls ALL {m} sub-space fits x {iters} Lloyd iterations as
    CTE chains (md5-ordered init, argmin assignment with
    lowest-cell ties, quantized-integer centroid updates, empty cells
    inheriting), then encodes, reconstructs, and ADC-scores exactly as
    the sampled-codebook oracle does. Trained-beats-sampled recall is
    asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb,
        QUERY_IDS,
        k=TOP_K,
        dim=EMB_DIM,
        codebooks=_trained_books(emb, sf_dir),
    )


def _pq_trained_oracle_sql(
    m: int = similarity.PQ_M,
    ksub: int = similarity.PQ_KSUB,
    iters: int = PQ_TRAIN_ITERS,
) -> str:
    """Unrolled per-sub-space Lloyd replay + encode + ADC: the trained
    twin of _pq_oracle_sql, generated (never hand-edited) so the SQL
    always mirrors the fit's constants."""
    dsub = EMB_DIM // m
    Q = similarity.SRP_QUANT

    def subd2(b: str, c: str) -> str:
        diff = f"({b}.sub[t2.d] - {c}.cent[t2.d])"
        return (
            f"(SELECT sum({diff} * {diff}) FROM unnest(range(1, {dsub} + 1))"
            f" AS t2(d))"
        )

    ctes = ["v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"]
    for j in range(1, m + 1):
        lo = (j - 1) * dsub + 1
        ctes.append(
            f"b{j} AS (SELECT vec_id AS id, e[{lo}:{lo + dsub - 1}] AS sub FROM v)"
        )
        ctes.append(
            f"""c{j}_0 AS (
            SELECT cell, cent FROM (
                SELECT row_number() OVER (
                           ORDER BY md5(CAST(id AS VARCHAR)), id
                       ) - 1 AS cell,
                       sub AS cent
                FROM b{j}
            ) WHERE cell < {ksub})"""
        )
        for it in range(1, iters + 1):
            prev = f"c{j}_{it - 1}"
            ctes.append(
                f"""a{j}_{it} AS (
                SELECT id, sub, cell FROM (
                    SELECT b.id, b.sub, c.cell,
                           row_number() OVER (
                               PARTITION BY b.id
                               ORDER BY {subd2('b', 'c')}, c.cell
                           ) AS rn
                    FROM b{j} b, {prev} c
                ) WHERE rn = 1)"""
            )
            ctes.append(
                f"""c{j}_{it} AS (
                SELECT cell, list(mn ORDER BY pos) AS cent FROM (
                    SELECT a.cell, t.i - 1 AS pos,
                           (CAST(sum(CAST(floor(a.sub[t.i] * {Q})
                                          AS BIGINT)) AS DOUBLE)
                            / count(*)) / {Q} AS mn
                    FROM a{j}_{it} a, unnest(range(1, {dsub} + 1)) AS t(i)
                    GROUP BY a.cell, t.i
                ) GROUP BY cell
                UNION ALL
                SELECT p.cell, p.cent FROM {prev} p
                WHERE p.cell NOT IN (SELECT DISTINCT cell FROM a{j}_{it}))"""
            )
    book_list = ", ".join(
        f"(SELECT list(cent ORDER BY cell) FROM c{j}_{iters})"
        for j in range(1, m + 1)
    )
    ctes.append(f"books AS (SELECT list_value({book_list}) AS bks)")

    def encd2(j: str, i: str) -> str:
        diff = f"(e[({j}-1)*{dsub}+d] - bks[{j}][{i}][d])"
        return (
            f"list_aggregate(list_transform(range(1, {dsub} + 1), "
            f"d -> {diff} * {diff}), 'sum')"
        )

    ctes.append(
        f"""codes AS (
        SELECT vec_id,
               list_transform(range(1, {m} + 1), j ->
                   list_position(
                       list_transform(range(1, {ksub} + 1),
                                      i -> {encd2('j', 'i')}),
                       list_min(
                           list_transform(range(1, {ksub} + 1),
                                          i -> {encd2('j', 'i')}))
                   ) - 1) AS c
        FROM v CROSS JOIN books)"""
    )
    ctes.append(
        f"""q AS (
        SELECT vec_id AS query_id, e AS qe FROM v
        WHERE vec_id IN ({_QID_LIST}))"""
    )
    ctes.append(
        f"""scored AS (
        SELECT q.query_id, codes.vec_id AS neighbor_id,
               list_aggregate(list_transform(range(1, {EMB_DIM} + 1), i ->
                   (qe[i] - bks[((i-1)//{dsub})+1][c[((i-1)//{dsub})+1] + 1]
                            [((i-1) % {dsub}) + 1])
                   * (qe[i] - bks[((i-1)//{dsub})+1][c[((i-1)//{dsub})+1] + 1]
                              [((i-1) % {dsub}) + 1])), 'sum') AS adist
        FROM codes CROSS JOIN books, q
        WHERE codes.vec_id <> q.query_id)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, adist FROM (
        SELECT query_id, neighbor_id, adist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
"""
    )


VECTORS_ORACLES["ann_pq_trained_topk"] = _pq_trained_oracle_sql()


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed billion-scale ANN serving shape (faiss IndexIVFPQ):
    IVF coarse probe (exact-integer label-block centroids, probe
    {IVF_NPROBE} of 10 blocks) prunes the scan BEFORE any vector byte
    is read; within probed blocks the scan reads 4-bit PQ codes (32x
    fewer bytes) and ADC builds a {PQ_SHORTLIST}-candidate shortlist;
    exact cosine re-ranks only those candidates to the top-{TOP_K}.
    Multiplicative cost cut: (nprobe/nlist) x (1/32 bytes) x
    (shortlist-only float fetch) — each tier already certified alone
    (ann_ivf_topk, ann_pq_adc_topk, ann_pq_rerank_topk); this query
    certifies the COMPOSITION, where the bugs live (block pruning must
    not leak into codebook training; the shortlist window must rank
    within the pruned candidate set only). FULLY oracled: probe
    rankings, codes, ADC distances, and the rerank all replay
    bit-for-bit in DuckDB below."""
    return similarity.ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_IDS,
        k=TOP_K,
        nprobe=IVF_NPROBE,
        shortlist=PQ_SHORTLIST,
        dim=EMB_DIM,
    )


# Composes the ann_ivf_topk oracle's probe CTEs with the
# _pq_oracle_sql encode/ADC/rerank CTEs. Codebooks sample the FULL
# corpus (offline index-build contract — pruning must not change the
# codebooks); codes are materialized only for probed blocks (mirroring
# the plan's prune-then-encode order; a per-vector argmin is unaffected
# by which other blocks survive).
VECTORS_ORACLES["ann_ivfpq_topk"] = f"""
    WITH base AS (
        SELECT vec_id AS id, label AS blk, embedding::DOUBLE[] AS e
        FROM embeddings
    ),
    quant AS (
        SELECT id, blk, t.i - 1 AS pos,
               CAST(floor(e[t.i] * {similarity.SRP_QUANT}) AS BIGINT) AS qx
        FROM base, unnest(range(1, len(e) + 1)) AS t(i)
    ),
    cent AS (
        SELECT blk, list(m ORDER BY pos) AS cent FROM (
            SELECT blk, pos, CAST(sum(qx) AS DOUBLE) / count(*) AS m
            FROM quant GROUP BY blk, pos
        ) GROUP BY blk
    ),
    q AS (
        SELECT id AS query_id, e AS qe FROM base WHERE id IN ({_QID_LIST})
    ),
    probed AS (
        SELECT query_id, qe, blk FROM (
            SELECT q.query_id, q.qe, cent.blk,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_cos("q.qe", "cent.cent")} DESC, cent.blk
                   ) AS pr
            FROM q, cent
        ) WHERE pr <= {IVF_NPROBE}
    ),
    cb AS (
        SELECT list(e ORDER BY h, vec_id) AS books FROM (
            SELECT id AS vec_id, e, md5(CAST(id AS VARCHAR)) AS h
            FROM base ORDER BY h, vec_id LIMIT {similarity.PQ_KSUB}
        )
    ),
    codes AS (
        SELECT id, blk,
               list_transform(range(1, {similarity.PQ_M} + 1), j ->
                   list_position(
                       list_transform(range(1, {similarity.PQ_KSUB} + 1),
                                      i -> {_pq_d2('j', 'i')}),
                       list_min(
                           list_transform(range(1, {similarity.PQ_KSUB} + 1),
                                          i -> {_pq_d2('j', 'i')}))
                   ) - 1) AS c
        FROM base CROSS JOIN cb
        WHERE blk IN (SELECT DISTINCT blk FROM probed)
    ),
    scored AS (
        SELECT p.query_id, codes.id AS neighbor_id,
               list_aggregate(list_transform(range(1, {EMB_DIM} + 1), i ->
                   (qe[i] - books[c[((i-1)//8)+1] + 1][i])
                   * (qe[i] - books[c[((i-1)//8)+1] + 1][i])), 'sum') AS adist
        FROM codes CROSS JOIN cb, probed p
        WHERE codes.blk = p.blk AND codes.id <> p.query_id
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {PQ_SHORTLIST}
    ),
    rerank AS (
        SELECT s.query_id, s.neighbor_id, {_cos("q.qe", "n.e")} AS cos
        FROM shortlist s
        JOIN q ON q.query_id = s.query_id
        JOIN base n ON n.id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rr
        FROM rerank
    ) WHERE rr <= {TOP_K}
"""


GRAM_QUANT = 1 << 10  # |x| <= ~1 -> q <= 1024; q*q*N_rows stays << 2^63


def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed Gram matrix X^T X over the embedding corpus —
    the kernel under PCA / whitening / OPQ-rotation training, as one
    declarative plan. Elements are floor-quantized to longs at 2^10
    (GRAM_QUANT), each row's outer product materializes as a flat
    dim^2 long array inside codegen, and the element-wise sum runs as
    posexplode -> groupBy(pos): Spark's partial (map-side) hash
    aggregation collapses each partition to dim^2 cells BEFORE the
    exchange, so only n_partitions x dim^2 longs ever shuffle — the
    same sum regardless of row count. Exact integer sums are
    order-independent, hence bit-identical to the DuckDB replay; at
    1e9 rows the accumulators stay < 2^51. Output (i, j, s) with
    0-based dimension indices — N and the dequant scale ride with the
    consumer (covariance = s / (N * GRAM_QUANT^2) minus mean terms).
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.transform(v, lambda x: F.floor(x * F.lit(float(GRAM_QUANT))).cast("long"))
    outer = F.flatten(F.transform(q, lambda qi: F.transform(q, lambda qj: qi * qj)))
    # spread_partitions: the dim^2 outer product is an interpreted HOF
    # map — a one-split scan runs it on one core (measured 2.5 s of a
    # 3 s wall at sf0.1). Guarded no-op at real scale; the exact-integer
    # cell sums are partition-order-independent, so values are identical.
    return (
        spread_partitions(load_table(spark, sf_dir, "embeddings"))
        .select(F.posexplode(outer).alias("pos", "p"))
        .groupBy("pos")
        .agg(F.sum("p").alias("s"))
        .select(
            (F.col("pos") / EMB_DIM).cast("long").alias("i"),
            (F.col("pos") % EMB_DIM).alias("j"),
            "s",
        )
    )


PCA_ITERS = 6
PCA_V0 = 0.125  # 1/sqrt(64): uniform unit start, exactly representable


def pca_power_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the embedding corpus by POWER
    ITERATION on the distributed Gram matrix, then the corpus
    projected onto it — the dimensionality-reduction / spectral-
    outlier scoring step of an embedding pipeline, end-to-end in one
    plan. (Uncentered PCA — the leading right-singular direction;
    on unit-normalized embedding corpora the uncentered form is the
    standard cosine-geometry choice. Centering adds one mean
    outer-product correction to the same machinery.)

    Three stages, each scale-shaped: (1) the certified embedding_gram
    pipeline — only n_partitions x dim^2 exact-integer cells ever
    shuffle, independent of row count; (2) {PCA_ITERS} power
    iterations IN-ROW on the single collected matrix row (dim^2
    doubles — KBs; the exact analog of the Lloyd-centroid driver-state
    contract), each matvec a pinned sequential fold so every float op
    is order-fixed; (3) one narrow broadcast-projection pass over the
    corpus, dot(x, v) per row, no shuffle. Bit-identical in DuckDB:
    integer Gram cells, folds in list order, correctly-rounded
    sqrt/divide — the oracle unrolls all iterations as CTEs (the
    PageRank replay pattern). Output: (vec_id, label, pc1).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.transform(v, lambda x: F.floor(x * F.lit(float(GRAM_QUANT))).cast("long"))
    outer = F.flatten(F.transform(q, lambda qi: F.transform(q, lambda qj: qi * qj)))
    # spread_partitions: same single-core outer-product fix as
    # embedding_gram (exact-integer sums, value-identical).
    cells = (
        spread_partitions(emb).select(F.posexplode(outer).alias("pos", "p"))
        .groupBy("pos")
        .agg(F.sum("p").alias("s"))
    )
    it = (
        cells.agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("gs"))
        .select(F.transform("gs", lambda e: e["s"].cast("double")).alias("g"))
        .select("g", F.array_repeat(F.lit(PCA_V0), EMB_DIM).alias("v"))
    )
    idx = F.sequence(F.lit(0), F.lit(EMB_DIM - 1))
    for _ in range(PCA_ITERS):
        w = F.transform(
            idx,
            lambda i: F.aggregate(
                idx,
                F.lit(0.0),
                lambda acc, j: acc
                + F.get("g", i * EMB_DIM + j) * F.get("v", j),
            ),
        )
        it = it.select("g", w.alias("w"))
        it = it.select(
            "g",
            "w",
            F.sqrt(
                F.aggregate("w", F.lit(0.0), lambda acc, x: acc + x * x)
            ).alias("nrm"),
        )
        it = it.select(
            "g", F.transform("w", lambda x: x / F.col("nrm")).alias("v")
        )
    return (
        emb.crossJoin(F.broadcast(it.select("v")))
        .select(
            "vec_id",
            "label",
            similarity.dot(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                F.col("v"),
            ).alias("pc1"),
        )
    )


def _pca_oracle_sql() -> str:
    """Unrolled power-iteration replay: the Gram cells are the
    embedding_gram oracle keyed by row-major pos; every matvec and
    norm is a list-order fold (list_aggregate 'sum' == F.aggregate's
    sequential fold: 0.0 + t0 is exactly t0)."""
    d = EMB_DIM
    ctes = [
        f"""base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    )""",
        f"""qv AS (
        SELECT vec_id, t.i AS i,
               CAST(floor(e[t.i] * {GRAM_QUANT}) AS BIGINT) AS q
        FROM base, unnest(range(1, {d} + 1)) AS t(i)
    )""",
        f"""cells AS (
        SELECT (a.i - 1) * {d} + (b.i - 1) AS pos,
               CAST(sum(a.q * b.q) AS BIGINT) AS s
        FROM qv a JOIN qv b ON a.vec_id = b.vec_id
        GROUP BY 1
    )""",
        f"""it0 AS (
        SELECT (SELECT list(CAST(s AS DOUBLE) ORDER BY pos) FROM cells) AS g,
               list_transform(range(1, {d} + 1), x -> {PCA_V0}) AS v
    )""",
    ]
    for k in range(1, PCA_ITERS + 1):
        p = k - 1
        ctes.append(f"""w{k} AS (
        SELECT g, list_transform(range(1, {d} + 1),
            i -> list_aggregate(list_transform(range(1, {d} + 1),
                     j -> g[(i - 1) * {d} + j] * v[j]), 'sum')) AS w
        FROM it{p}
    )""")
        ctes.append(f"""it{k} AS (
        SELECT g,
               list_transform(w, x -> x /
                   sqrt(list_aggregate(list_transform(w, y -> y * y), 'sum'))) AS v
        FROM w{k}
    )""")
    proj = (
        f"list_aggregate(list_transform(range(1, {d} + 1), "
        f"i -> e[i] * v[i]), 'sum')"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT base.vec_id, base.label, {proj} AS pc1
    FROM base, it{PCA_ITERS}"""
    )


VECTORS_ORACLES["pca_power_pc1"] = _pca_oracle_sql()


VECTORS_ORACLES["embedding_gram"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    q AS (
        SELECT vec_id, t.i AS i,
               CAST(floor(e[t.i] * {GRAM_QUANT}) AS BIGINT) AS qv
        FROM v, unnest(range(1, {EMB_DIM} + 1)) AS t(i)
    )
    SELECT a.i - 1 AS i, b.i - 1 AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS s
    FROM q a JOIN q b ON a.vec_id = b.vec_id
    GROUP BY 1, 2
"""


MMR_LAMBDA = 0.7
MMR_K = 5
MMR_SHORTLIST = 30


def ann_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware serving: exact cosine top-{MMR_SHORTLIST}
    shortlist per query, then Maximal Marginal Relevance greedy
    re-ranking down to {MMR_K} picks (operators/similarity.mmr_rerank,
    lambda={MMR_LAMBDA}) — the result-list shape RAG retrieval and
    recommendation actually serve, where pure relevance top-k returns
    near-duplicates of one document. Distributed work = the shortlist
    scan plus one pairwise-sim pass WITHIN each query's shortlist
    (pairs are broadcast against the vector table — the corpus never
    self-joins); the k greedy steps run over O(queries x shortlist)
    rows. Oracle unrolls all {MMR_K} selection steps as a CTE chain
    (the Lloyd/BPE replay pattern on a ranking loop)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: `short` feeds THREE branches of the (lazy) MMR
    # plan — the candidate aggregate plus both sides of the pairs
    # self-join — and the brute-force top-{MMR_SHORTLIST} window scan
    # gets no ReusedExchange across them (verified round 15: 3 Window
    # nodes, 8 parquet scans without it). One eager materialization of
    # the O(queries x shortlist) rows replaces three scans of the
    # vector table (guide §7 duplicated subtree).
    short = (
        similarity.brute_force_topk(emb, QUERY_IDS, k=MMR_SHORTLIST)
        .select("query_id", "neighbor_id", F.col("cos").alias("rel"))
        .localCheckpoint()
    )
    base = emb.select(
        F.col("vec_id"), similarity._as_double("embedding").alias("v")
    ).withColumn("n", similarity.l2_norm(F.col("v")))
    pairs = (
        short.select("query_id", F.col("neighbor_id").alias("a"))
        .join(short.select("query_id", F.col("neighbor_id").alias("b")), "query_id")
        .where(F.col("a") != F.col("b"))
    )
    va = base.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = base.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    sims = (
        F.broadcast(pairs)
        .join(va, "a")
        .join(vb, "b")
        .select(
            "query_id",
            "a",
            "b",
            (
                similarity.dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("sim"),
        )
    )
    return similarity.mmr_rerank(short, sims, lam=MMR_LAMBDA, k=MMR_K)


def _mmr_oracle_sql(
    lam: float = MMR_LAMBDA, k: int = MMR_K, shortlist: int = MMR_SHORTLIST
) -> str:
    """Unrolled MMR replay: shortlist CTE (the similarity_topk oracle
    at rnk <= shortlist), pairwise sims within it, then one
    (cand, div, scored, pick, running-union) CTE block per greedy
    step. Both engines order by the identical IEEE mmr expression
    with the same doc-id tie-break."""
    lam_r = repr(lam)
    one_m = repr(1.0 - lam)
    ctes = [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""q AS (
            SELECT vec_id AS query_id, v AS qv FROM base
            WHERE vec_id IN ({_QID_LIST})
        )""",
        f"""short AS (
            SELECT query_id, neighbor_id, rel FROM (
                SELECT query_id, neighbor_id, rel,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, neighbor_id) AS rnk
                FROM (
                    SELECT q.query_id, base.vec_id AS neighbor_id,
                           {_cos("q.qv", "base.v")} AS rel
                    FROM base, q WHERE base.vec_id <> q.query_id
                )
            ) WHERE rnk <= {shortlist}
        )""",
        f"""sims AS (
            SELECT s1.query_id, s1.neighbor_id AS a, s2.neighbor_id AS b,
                   {_cos("v1.v", "v2.v")} AS sim
            FROM short s1
            JOIN short s2 ON s1.query_id = s2.query_id
                         AND s1.neighbor_id <> s2.neighbor_id
            JOIN base v1 ON v1.vec_id = s1.neighbor_id
            JOIN base v2 ON v2.vec_id = s2.neighbor_id
        )""",
        """selall0 AS (
            SELECT query_id, neighbor_id AS doc, 0 AS pick, rel, 0.0 AS mmr
            FROM short WHERE 1 = 0
        )""",
    ]
    for t in range(1, k + 1):
        ctes.append(f"""cand{t} AS (
            SELECT s.query_id, s.neighbor_id, s.rel FROM short s
            WHERE NOT EXISTS (
                SELECT 1 FROM selall{t - 1} x
                WHERE x.query_id = s.query_id AND x.doc = s.neighbor_id)
        )""")
        ctes.append(f"""div{t} AS (
            SELECT m.query_id, m.a, max(m.sim) AS ms
            FROM sims m JOIN selall{t - 1} x
              ON x.query_id = m.query_id AND x.doc = m.b
            GROUP BY 1, 2
        )""")
        ctes.append(f"""scored{t} AS (
            SELECT c.query_id, c.neighbor_id, c.rel,
                   {lam_r} * c.rel - {one_m} * coalesce(d.ms, 0.0) AS mmr
            FROM cand{t} c LEFT JOIN div{t} d
              ON d.query_id = c.query_id AND d.a = c.neighbor_id
        )""")
        ctes.append(f"""sel{t} AS (
            SELECT query_id, neighbor_id AS doc, {t} AS pick, rel, mmr FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                              ORDER BY mmr DESC, neighbor_id) AS rn
                FROM scored{t}
            ) WHERE rn = 1
        )""")
        ctes.append(f"""selall{t} AS (
            SELECT * FROM selall{t - 1} UNION ALL SELECT * FROM sel{t}
        )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
        SELECT query_id, doc, pick, rel, mmr FROM selall{k}"""
    )


VECTORS_ORACLES["ann_mmr_topk"] = _mmr_oracle_sql()


OUTLIER_Q = 1 << 16  # exact power-of-two quantization (float*2^16 is exact)
OUTLIER_PRUNE_PPM = 100_000  # prune the least-prototypical 10% per label


def doc_outlier_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning: score every vector by cosine to its
    OWN label's centroid and flag the least-typical 10 % per label —
    the data-pruning signal (SemDeDup's sibling: that removes
    near-identical points, this removes far-from-cluster points;
    curation pipelines run both) and the embedding-space outlier
    detector for mislabeled/garbage examples.

    Determinism without a pinned fold order: the centroid is a
    per-(label, dim) SUM of 2^16-quantized components — floor(x*2^16)
    is EXACT (power-of-two scale), integer sums are order-free, and
    cosine is scale-invariant so sum vs mean doesn't matter. Per-
    vector dot/norms are then in-row exact-integer folds; the single
    double division + correctly-rounded sqrt make cos bit-identical
    across engines, ppm-floored for the output.

    Plan shape at 100 TB: one (label, dim)-keyed partial-agg'd shuffle
    of quantized components builds all centroids (64 x #labels rows);
    centroids broadcast back; scoring is embarrassingly parallel
    in-row; the prune flag is a per-label window over rank — per-label
    cardinality-bounded, the same partition profile as any per-class
    pass. Output: (vec_id, label, cos_ppm, is_pruned)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(float(OUTLIER_Q))).cast(
                "long"
            ),
        ).alias("q"),
    )
    cent = (
        qv.select("label", F.posexplode("q").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("c"))
    )
    carr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label",
            F.transform("pc", lambda s: s["c"]).alias("cq"),
        )
    )
    zero = F.lit(0).cast("long")
    scored = (
        qv.join(F.broadcast(carr), "label")
        .select(
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with("q", "cq", lambda a, b: a * b),
                zero,
                lambda acc, x: acc + x,
            ).alias("dot"),
            F.aggregate(
                F.transform("q", lambda x: x * x), zero, lambda acc, x: acc + x
            ).alias("na"),
            F.aggregate(
                F.transform("cq", lambda x: x * x), zero, lambda acc, x: acc + x
            ).alias("nc"),
        )
        .where((F.col("na") > 0) & (F.col("nc") > 0))
        .select(
            "vec_id",
            "label",
            F.floor(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nc").cast("double"))
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("cos_ppm"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_ppm"), F.asc("vec_id"))
    wl = Window.partitionBy("label")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wl))
        .select(
            "vec_id",
            "label",
            "cos_ppm",
            # integer ceil: rnk <= ceil(n * ppm / 1e6), all-int `div`
            F.expr(
                f"rnk <= (n * {OUTLIER_PRUNE_PPM} + 999999) div 1000000"
            ).alias("is_pruned"),
        )
    )


VECTORS_ORACLES["doc_outlier_embeddings"] = f"""
    WITH qv AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {OUTLIER_Q})
                             AS BIGINT)) AS q
        FROM embeddings
    ),
    cent AS (
        SELECT label, i AS pos, sum(q[i]) AS c
        FROM qv, range(1, 65) r(i)
        GROUP BY 1, 2
    ),
    carr AS (
        SELECT label, list(CAST(c AS BIGINT) ORDER BY pos) AS cq
        FROM cent GROUP BY label
    ),
    scored AS (
        SELECT vec_id, qv.label,
               CAST(list_sum(list_transform(q, (x, i) -> x * cq[i]))
                    AS BIGINT) AS dot,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS na,
               CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS nc
        FROM qv JOIN carr ON qv.label = carr.label
    ),
    ppm AS (
        SELECT vec_id, label,
               CAST(floor(CAST(dot AS DOUBLE)
                    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS cos_ppm
        FROM scored WHERE na > 0 AND nc > 0
    )
    SELECT vec_id, label, cos_ppm,
           row_number() OVER (PARTITION BY label
                              ORDER BY cos_ppm, vec_id)
               <= (count(*) OVER (PARTITION BY label) * {OUTLIER_PRUNE_PPM}
                   + 999999) // 1000000 AS is_pruned
    FROM ppm
"""


RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_TOPK = 10
RRF_QUERY_ID = 0  # fuse the semantic list of this query vector


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion of the two certified
    rankers — the BM25 lexical list (bm25_search_topk, fixed query
    terms) and the exact-cosine semantic list (similarity_topk, query
    vector {RRF_QUERY_ID}) — rrf(id) = sum over lists of
    1e6 div (60 + rank), integer-exact, ties broken by id. This is
    how production search actually serves (sparse + dense fused
    downstream, RRF being the standard fusion because it needs no
    score calibration between incomparable rankers).

    Plan shape at 100 TB: both input lists are top-k (20 and 10 rows)
    — the fusion is a full-outer join of two KB-sized frames and a
    TakeOrdered; all the heavy lifting lives in the already-audited
    rankers upstream. Absent ranks contribute 0 and surface as rank 0
    (not NULL: a nullable int degrades to float64 in pandas and would
    poison the driver's stringified hash). Output:
    (rank, id, rrf_ppm, lex_rank, sem_rank)."""
    from .textops import bm25_search_topk

    lex = bm25_search_topk(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("lex_rank")
    )
    sem = (
        similarity_topk(spark, sf_dir)
        .where(F.col("query_id") == RRF_QUERY_ID)
        .select(
            F.col("neighbor_id").alias("id"), F.col("rnk").alias("sem_rank")
        )
    )
    fused = lex.join(sem, "id", "full_outer").select(
        "id",
        F.coalesce("lex_rank", F.lit(0)).cast("int").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(0)).cast("int").alias("sem_rank"),
        (
            F.coalesce(
                F.expr(f"1000000 div ({RRF_K} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 div ({RRF_K} + sem_rank)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_ppm"),
    )
    order = [F.desc("rrf_ppm"), F.asc("id")]
    return (
        fused.orderBy(*order)
        .limit(RRF_TOPK)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select("rank", "id", "rrf_ppm", "lex_rank", "sem_rank")
    )


def _rrf_oracle_sql() -> str:
    from .textops import TEXTOPS_ORACLES

    return f"""
        WITH lex_all AS (
            {TEXTOPS_ORACLES["bm25_search_topk"]}
        ),
        sem_all AS (
            {VECTORS_ORACLES["similarity_topk"]}
        ),
        lex AS (SELECT doc_id AS id, rank AS lex_rank FROM lex_all),
        sem AS (
            SELECT neighbor_id AS id, rnk AS sem_rank FROM sem_all
            WHERE query_id = {RRF_QUERY_ID}
        ),
        fused AS (
            SELECT coalesce(lex.id, sem.id) AS id,
                   CAST(coalesce(lex_rank, 0) AS INT) AS lex_rank,
                   CAST(coalesce(sem_rank, 0) AS INT) AS sem_rank,
                   CAST(coalesce(1000000 // ({RRF_K} + lex_rank), 0)
                        + coalesce(1000000 // ({RRF_K} + sem_rank), 0)
                        AS BIGINT) AS rrf_ppm
            FROM lex FULL OUTER JOIN sem ON lex.id = sem.id
        )
        SELECT CAST(row_number() OVER (ORDER BY rrf_ppm DESC, id) AS INT)
                   AS rank,
               id, rrf_ppm, lex_rank, sem_rank
        FROM fused ORDER BY rrf_ppm DESC, id LIMIT {RRF_TOPK}
    """


VECTORS_ORACLES["hybrid_rrf_topk"] = _rrf_oracle_sql()
