"""Deduplication operators for large-scale corpus curation.

Four families, cheapest first — the standard cascade for a 100 TB
training-data pipeline:

1. exact        — hash-groupBy on normalized text (one shuffle of
                  (hash, id), never the text itself)
2. ngram-jaccard — exact set-similarity via inverted-index self-join
                  (candidate pairs only where shingles are shared)
3. MinHash+LSH  — probabilistic near-dup at scale: signature ->
                  band -> bucket-join; verified with exact jaccard
4. SimHash      — 64-bit fingerprint, hamming-ball candidates via
                  band buckets, verified with bit_count(xor)

The reference engine has no dedup of any kind; the closest shape is the
indexer plugin's word->documents grouping
(/root/reference/plugins/indexer.go:22-41), which is exactly the
inverted-index candidate-generation pattern generalized here.

Scale notes:
- shingle/inverted-index joins explode one row per (doc, shingle);
  frequency pruning (drop shingles in > max_df docs) bounds posting
  lists — the hot-shingle skew killer. Exposed as ``max_df``.
- MinHash bands shuffle one row per (doc, band) — constant fan-out
  per doc regardless of doc length.
- all verification joins carry only ids + small ints, never text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_ngrams

# Deterministic MinHash permutation parameters: h_i(x) = (a_i*x + b_i) mod P.
# P = 2^31-1 (Mersenne) keeps a*x + b < 2^62 — pure long arithmetic, no
# decimal/overflow. a,b come from a fixed LCG so every run derives the
# identical hash family without RNG state.
_P = (1 << 31) - 1


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    params = []
    x = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (x % (_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = x % _P
        params.append((a, b))
    return params


def _minhash_min_exprs(num_perm: int) -> list[Column]:
    """The ``num_perm`` signature aggregates as parsed SQL strings.

    Built with ONE ``F.expr`` per permutation instead of ~8 chained
    Column operator calls: every Column operation is a py4j round
    trip, and at 64 permutations the construction alone cost ~0.47 s
    of single-threaded driver time PER QUERY BUILD (measured round 15;
    the expr form is 0.03 s). Expression semantics are identical —
    same literals, same left-associative %/* precedence made explicit
    with parens — so signatures hash-match the oracle unchanged."""
    return [
        F.expr(f"min(((sh_hash % {_P}) * {a} + {b}) % {_P}) AS m{i}")
        for i, (a, b) in enumerate(_perm_params(num_perm))
    ]


def _minhash_bands_expr(bands: int, r: int) -> Column:
    """``array<struct<band_idx,band_key>>`` over the m0..m{n-1}
    signature columns, as one parsed SQL string (same py4j-chatter cut
    as :func:`_minhash_min_exprs`; band_key remains the comma-joined
    text of the band's r signature values)."""
    entries = ",".join(
        "named_struct('band_idx', {bi}, 'band_key', concat_ws(',', {cols}))".format(
            bi=bi, cols=", ".join(f"m{bi * r + j}" for j in range(r))
        )
        for bi in range(bands)
    )
    return F.expr(f"array({entries})")


def normalize_text(col) -> Column:
    """Shared normalization for all dedup paths: lowercase, collapse
    whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash from the md5 hex prefix — reproducible in
    ANSI SQL (DuckDB: ``('0x' || substring(md5(x), 1, 15))::BIGINT``),
    so probabilistic dedup built on it gets a full cross-engine oracle.
    15 hex chars = 60 bits, always positive in a signed 64-bit long in
    both engines (no sign/overflow edge cases). md5 costs more than
    xxhash64; at petabyte scale swap this one expression for
    ``F.xxhash64`` and downgrade the oracle to rows-only."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (post-normalization) texts: one row per distinct
    content with copy count + the keeper (min id) — the standard
    keep-first exact dedup. Only (hash, id) pairs are shuffled."""
    hashed = df.select(
        F.md5(normalize_text(text_col)).alias("content_hash"),
        F.col(id_col).cast("long").alias("doc_id"),
    )
    return hashed.groupBy("content_hash").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keeper_id"),
    )


# ---------------------------------------------------------------------------
# 2. exact n-gram jaccard via inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs with jaccard(word-ngram sets) >= threshold, exactly.

    Inverted-index join: only doc pairs sharing at least one shingle
    are ever materialized. ``max_df`` prunes shingles present in more
    than that many docs (hot-key guard at scale; None = exact).
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    shingles = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode_outer(F.array_distinct(word_ngrams(text_col, n))).alias("shingle"),
    ).where(F.col("shingle").isNotNull() & (F.col("shingle") != ""))

    if max_df is not None:
        # document frequency as a count window over the shingle key:
        # ONE shuffle (vs the groupBy+join form's two), and because the
        # window hash-partitions by shingle, the inverted-index
        # self-join below reuses that partitioning on both sides — no
        # further exchange before the pair count.
        wdf = Window.partitionBy("shingle")
        shingles = (
            shingles.withColumn("_df", F.count("*").over(wdf))
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )

    # Count-based inverted-index join: intersection sizes fall out of a
    # partial-agg'd groupBy on the shared-shingle join; only (doc, doc)
    # id pairs are shuffled into the count, never shingle sets. A
    # PPJoin-style prefix filter was benchmarked here and lost — the
    # candidate reduction didn't pay for shuffling full shingle arrays
    # through the verify join. At 100 TB the lever for this operator is
    # ``max_df`` (hot-shingle pruning bounds posting lists, which
    # bounds the quadratic term).
    sizes = shingles.groupBy("doc").agg(F.count("*").alias("sz"))

    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + LSH banding, verified
    with exact jaccard (no false positives in the output; recall is
    probabilistic in the banding stage).

    Pipeline (all JVM-side):
      shingle -> portable 60-bit hash -> num_perm affine permutations
      mod 2^31-1 -> min per permutation (one aggregate) -> split into
      ``bands`` bands of r = num_perm/bands rows -> group by
      (band_idx, band_key) -> within-bucket pairs -> exact-jaccard
      verify -> threshold.

    Every hash is md5-derived (:func:`portable_hash60`), so a SQL
    oracle reproduces signatures, buckets, candidates, and jaccard
    values bit-for-bit — the driver hash-checks this operator end to
    end instead of counting rows.

    Shuffle profile at scale: one row per (doc, band) into the bucket
    join — independent of document size; the verify join touches only
    candidate pairs. ``max_bucket`` drops degenerate buckets larger
    than the given size (boilerplate-heavy corpora produce a few huge
    buckets whose pair blowup is quadratic; dropping them loses recall
    only on pairs that agree in no other band).
    """
    r = num_perm // bands
    assert bands * r == num_perm, "bands must divide num_perm"

    # Hash each shingle to a long at the scan and never shuffle the
    # strings: every downstream stage (signatures, shingle sets for the
    # verify) works on 8-byte keys. Collisions (~1e-13 at 60 bits) only
    # perturb jaccard in the last decimal — this is the probabilistic
    # path; the exact string-keyed op is ngram_jaccard_pairs.
    shingles = (
        df.select(
            F.col(id_col).cast("long").alias("doc"),
            F.explode_outer(F.array_distinct(word_ngrams(text_col, n))).alias("shingle"),
        )
        .where(F.col("shingle").isNotNull() & (F.col("shingle") != ""))
        .select("doc", portable_hash60(F.col("shingle")).alias("sh_hash"))
    )

    # Shuffle the hashed shingle stream by doc ONCE; the signature agg
    # and the verify-stage shingle-set agg both consume this exchange
    # (identical subtree -> ReusedExchange), so the scan -> tokenize ->
    # md5 map side runs a single time. Keeping the two aggregations
    # separate also keeps the 64-way min in fast hash aggregation
    # instead of dragging it into collect_set's object-hash path.
    shuffled = shingles.repartition("doc")
    sig = shuffled.groupBy("doc").agg(*_minhash_min_exprs(num_perm))

    # Band key: the r signature values joined as text — portable across
    # engines. ~40 bytes per (doc, band) row instead of an 8-byte hash;
    # at petabyte scale wrap it in xxhash64 and drop the oracle to
    # rows-only (same trade as portable_hash60).
    banded = sig.select("doc", F.explode(_minhash_bands_expr(bands, r)).alias("band")).select(
        "doc", F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )
    if max_bucket is not None:
        w = Window.partitionBy("band_idx", "band_key")
        banded = (
            banded.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )

    # Exact-jaccard verify on the CANDIDATES ONLY — join each side to
    # its shingle set and intersect/union in-row. The LSH stage exists
    # precisely so the verify never touches the full pair space; the
    # candidate side is tiny, so both joins broadcast it and the
    # shingle-set table is scanned once without a pair-blowup shuffle.
    doc_sets = shuffled.groupBy("doc").agg(F.collect_set("sh_hash").alias("sh"))
    verified = (
        F.broadcast(candidates)
        .join(doc_sets.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(doc_sets.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Per-document MinHash index row — the PERSISTABLE form of the
    minhash_lsh_pairs intermediate, for incremental (new-batch vs
    stored-corpus) near-dup probing:

      (doc, sh: array<long>, bands: array<struct<band_idx, band_key>>)

    ``sh`` is the distinct 60-bit shingle-hash set (enough to verify
    exact jaccard against any candidate without re-reading text);
    ``bands`` are the LSH bucket keys (explode + store them keyed by
    (band_idx, band_key) and a new batch probes the corpus with a
    keyed join instead of a full re-signature). One scan, one shuffle:
    the signature mins and the shingle set come out of a single
    groupBy — index builds run per ingestion batch, so the
    ObjectHashAggregate path (collect_set drags the mins along) costs
    O(batch), never O(corpus).
    """
    r = num_perm // bands
    assert bands * r == num_perm, "bands must divide num_perm"
    shingles = (
        df.select(
            F.col(id_col).cast("long").alias("doc"),
            F.explode_outer(F.array_distinct(word_ngrams(text_col, n))).alias("shingle"),
        )
        .where(F.col("shingle").isNotNull() & (F.col("shingle") != ""))
        .select("doc", portable_hash60(F.col("shingle")).alias("sh_hash"))
    )
    sig = shingles.groupBy("doc").agg(
        *_minhash_min_exprs(num_perm), F.collect_set("sh_hash").alias("sh")
    )
    return sig.select("doc", "sh", _minhash_bands_expr(bands, r).alias("bands"))


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, majority vote of token
    hashes. Expressed as explode -> per-bit sums -> sign, all built-ins.

    The 64 token-hash bits come from two md5-derived 32-bit halves
    (portable across engines, always positive — no sign edge cases):
    bits 0-31 from hex chars 9-16, bits 32-63 from hex chars 1-8. A SQL
    oracle reproduces the votes, fingerprints, and hamming distances
    exactly."""
    toks = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(F.array_distinct(word_ngrams(text_col, 1))).alias("tok"),
    ).where(F.col("tok") != "")
    md5 = F.md5("tok")
    th = toks.select(
        "doc",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("h_lo"),
    )
    # per-bit vote: bit i is set in the fingerprint when more than half
    # the token hashes have it set. The 64 vote counters are PACKED four
    # to an accumulator (16-bit lanes): per row, bit 4g+j of each half
    # lands at lane offset 16*j of packed sum g, and integer addition
    # accumulates the four lanes independently. 17 aggregation columns
    # instead of 65 — measured ~40% faster end-to-end at sf0.1, mostly
    # from the much smaller generated aggregate (codegen time counts:
    # every fresh query pays it). Lane width bounds distinct tokens per
    # doc at 65,535; for corpora beyond that switch to 3 x 21-bit lanes
    # (22 accumulators, bound 2M).
    # Both the packs and the vote sum are built as parsed SQL strings:
    # the Column-operator form cost ~1.4 s of py4j round trips per
    # query construction (packs 0.39 s + votes 0.99 s, measured round
    # 15); the expr form is milliseconds with identical expressions
    # (same literals, explicit parens pin the precedence).
    packs = []
    for half, colname in (("lo", "h_lo"), ("hi", "h_hi")):
        for g in range(8):
            lanes = " + ".join(
                f"shiftleft(shiftrightunsigned({colname}, {4 * g + j}) & 1, {16 * j})"
                for j in range(4)
            )
            packs.append(F.expr(f"sum({lanes}) AS s_{half}{g}"))
    bit_sums = th.groupBy("doc").agg(F.count("*").alias("n"), *packs)

    def vote_term(i: int) -> str:
        half, ii = ("lo", i) if i < 32 else ("hi", i - 32)
        g, j = ii // 4, ii % 4
        # distinct powers of two, so arithmetic sum == bitwise OR (bit
        # 63 contributes Long.MIN_VALUE via the overflow-free
        # -(2^63-1)-1 form — the literal -9223372036854775808L would
        # parse as unary minus of an out-of-range positive)
        bit = f"{1 << i}L" if i < 63 else "(-9223372036854775807L - 1L)"
        return (
            f"CASE WHEN (shiftrightunsigned(s_{half}{g}, {16 * j}) & 65535)"
            f" * 2 > n THEN {bit} ELSE 0L END"
        )

    fp = bit_sums.select(
        "doc",
        F.expr(
            "CAST(0 AS BIGINT) + " + " + ".join(vote_term(i) for i in range(64))
        ).alias("simhash"),
    )
    return fp


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming.

    Candidate generation: split the 64-bit fingerprint into
    (max_hamming+1) bands — any pair within the hamming ball shares at
    least one exact band (pigeonhole), so the bucket join has full
    recall. Verification: bit_count(xor) on candidates only.

    ``max_bucket`` caps degenerate band buckets: a band value shared by
    more than that many docs (templated/boilerplate corpora) is dropped
    before the pair join, bounding the quadratic candidate term.
    Trades recall only on pairs that agree in no surviving band; with
    the cap the output is a subset of the exact hamming-ball pair set
    (full recall requires max_bucket=None).
    """
    nb = max_hamming + 1
    width = 64 // nb
    fp = simhash(df, id_col, text_col)
    bands = fp.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("band"),
    ).select("doc", "simhash", "band.band_idx", "band.band_val")
    if max_bucket is not None:
        w = Window.partitionBy("band_idx", "band_val")
        bands = (
            bands.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# 5. containment (substring-level) dedup
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Doc pairs sharing >= ``min_shared`` distinct token k-gram
    windows, with the CONTAINMENT score shared/min(|A|,|B|).

    Jaccard misses quotation/inclusion: a 100-line doc fully embedded
    in a 10,000-line doc has jaccard ~0.01 but containment ~1.0 — the
    "one doc quotes another" case substring-level training-data dedup
    exists for (cf. suffix-array dedup; this is its bounded windowed
    form). Long k (default 8 tokens) makes coincidental window
    collisions rare, so shared windows ~ shared verbatim spans.

    Plan shape (the 100 TB story mirrors ngram_jaccard_pairs):
    windows are md5-hashed to 60-bit ints (portable_hash60) BEFORE the
    shuffle, so only (hash, doc) longs cross an exchange — never window
    text; ``max_df`` drops boilerplate windows (headers, licenses)
    before the pair join, bounding posting lists; per-doc distinct
    window counts ride a count window over the same hash partitioning
    (exchange reuse, no extra shuffle); the size join runs un-hinted so
    AQE broadcasts only when the doc-size side actually fits.
    Output: (id_a, id_b, shared, containment) with id_a < id_b.
    """
    wins = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode_outer(F.array_distinct(word_ngrams(text_col, k))).alias("w"),
    ).where(F.col("w").isNotNull() & (F.col("w") != ""))
    # Dedup POST-hash as well (array_distinct above is pre-hash): the
    # oracle computes over DISTINCT (doc, h), so a 60-bit md5 collision
    # between two distinct windows of the same doc must collapse here
    # too — otherwise shared/size counts diverge between the engines.
    wins = wins.select(
        "doc", portable_hash60(F.col("w")).alias("h")
    ).dropDuplicates(["doc", "h"])

    if max_df is not None:
        wdf = Window.partitionBy("h")
        wins = (
            wins.withColumn("_df", F.count("*").over(wdf))
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )

    sizes = wins.groupBy("doc").agg(F.count("*").alias("sz"))

    a, b = wins.alias("a"), wins.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            (
                F.col("shared").cast("double")
                / F.least(F.col("sz_a"), F.col("sz_b")).cast("double")
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# 6. fuzzy string matching (edit-distance entity resolution)
# ---------------------------------------------------------------------------


# Distinct-name count below which q-gram prefix blocking is pure
# overhead (two windows + a frequency join to prune a pair space that
# plain length banding already bounds): measured at sf0.1's 64 distinct
# part names, the blocked path costs 3.0 s vs 0.7 s plain for the same
# 96 result pairs.
FUZZY_QGRAM_AUTO_MIN = 5_000


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 3,
    len_band: int | None = None,
    qgram: int | str | None = "auto",
) -> DataFrame:
    """DISTINCT name pairs within ``max_dist`` edit distance — the
    entity-resolution primitive (catalog/name canonicalization: "blue
    bolt" vs "blu bolt"), complementing the token-set (jaccard) and
    bit-signature (simhash) dedup families with a character-level one.

    Blocking #1 (length band): levenshtein(a,b) >= |len(a)-len(b)|, so
    only pairs within ``len_band`` of each other's length can match.
    The inequality is expressed as an EQUI-join — side A explodes to
    every length bucket in [len-band, len+band], side B keys on its
    exact length — because a plain |la-lb|<=band predicate would plan a
    nested-loop join over the full name-pair space (the gate in
    tests/oracle.py forbids exactly that). ``len_band`` defaults
    to ``max_dist``, which makes the band LOSSLESS; passing a smaller
    band is an explicit approximate-recall trade (pairs whose lengths
    differ by more than the band are silently dropped).

    Blocking #2 (``qgram`` = q, optional — the 100 TB lever): length
    banding alone is quadratic in distinct names per length bucket.
    Ed-Join-style positional-q-gram prefix filtering (Xiao, Wang & Lin,
    VLDB'08 — public algorithm) bounds candidates LOSSLESSLY: an edit
    destroys at most q q-grams, so any pair within distance d shares
    >= max(la,lb)-q+1-d*q occurrence-numbered q-grams; ordering every
    name's grams by ascending global frequency and keeping only the
    first d*q+1 per name, two matching names MUST collide on a kept
    (gram, occurrence) element whenever max(la,lb) >= q*(d+1) (prefix
    pigeonhole). Pairs where both names are shorter than q*(d+1) fall
    back to the plain band join over that small short-name subset.
    Rare-gram-first ordering is what bounds posting lists (frequent
    grams like 'er' never block), so bucket sizes stay bounded at 100x
    name cardinality. Requires q >= 2 (q=1 breaks the short/long band
    disjointness argument). The default ``"auto"`` engages q=2 only
    when the distinct-name count reaches FUZZY_QGRAM_AUTO_MIN (one
    count() of the distinct names): below that, the blocking machinery
    costs more than the pair space it prunes; both paths return
    IDENTICAL pairs (pytest-proven), so the switch is invisible to
    results.

    Names are deduplicated BEFORE pairing, so cost is in DISTINCT
    names; the verify (levenshtein, an O(len^2) DP both engines
    implement identically) runs on surviving candidates only.
    Output: (name_a, name_b, dist) with name_a < name_b.
    """
    if len_band is None:
        len_band = max_dist
    names = df.select(F.col(name_col).alias("name")).where(
        F.col("name").isNotNull()
    ).distinct()
    if qgram == "auto":
        # The distinct-names set feeds the auto count() action plus four
        # plan subtrees below (shorts, grams, freq, prefix); materialize
        # it ONCE so the scan+distinct isn't recomputed per subtree.
        names = names.localCheckpoint()
        qgram = 2 if names.count() >= FUZZY_QGRAM_AUTO_MIN else None
    elif qgram is not None:
        names = names.localCheckpoint()

    def band_pairs(side: DataFrame) -> DataFrame:
        a = side.select(
            F.col("name").alias("name_a"),
            F.explode(
                F.sequence(
                    F.greatest(F.length("name") - len_band, F.lit(0)),
                    F.length("name") + len_band,
                )
            ).alias("lb"),
        )
        b = side.select(
            F.col("name").alias("name_b"), F.length("name").alias("lb")
        )
        return (
            a.join(b, ["lb"])
            .where(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b")
        )

    if qgram is None:
        cand = band_pairs(names)
    else:
        q, d = qgram, max_dist
        if q < 2:
            raise ValueError("qgram blocking requires q >= 2")
        cut = q * (d + 1)
        # Pairs where BOTH names are shorter than q*(d+1) can evade the
        # shared-gram guarantee -> plain band join over just the shorts.
        shorts = names.where(F.length("name") < cut)
        short_pairs = band_pairs(shorts)

        # Occurrence-numbered q-grams for every name of length >= q
        # (multiset -> set, so the count-filter bound applies to plain
        # equality joins). Names shorter than q have NO q-grams and can
        # only pair within len_band of other sub-cut names — the shorts
        # band join above already owns every such pair. Filtering them
        # out also keeps sequence(1, len-q+1) strictly ascending:
        # without it, len < q makes the stop < start and Spark's
        # default -1 step would emit the phantom array [1, 0].
        grams = names.where(F.length("name") >= q).select(
            "name",
            F.length("name").alias("len"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length(name) - {q} + 1),"
                    f" i -> substring(name, i, {q}))"
                )
            ).alias("pos", "g"),
        )
        occ_w = Window.partitionBy("name", "g").orderBy("pos")
        grams = grams.withColumn("occ", F.row_number().over(occ_w))
        freq = grams.groupBy("g", "occ").agg(F.count("*").alias("freq"))
        rank_w = Window.partitionBy("name").orderBy("freq", "g", "occ")
        prefix = (
            grams.join(freq, ["g", "occ"])
            .withColumn("rk", F.row_number().over(rank_w))
            .where(F.col("rk") <= d * q + 1)
            .select("name", "len", "g", "occ")
        )
        pa_, pb_ = prefix.alias("pa"), prefix.alias("pb")
        gram_pairs = (
            pa_.join(
                pb_,
                (F.col("pa.g") == F.col("pb.g"))
                & (F.col("pa.occ") == F.col("pb.occ"))
                & (F.col("pa.name") < F.col("pb.name"))
                & (
                    F.abs(F.col("pa.len") - F.col("pb.len"))
                    <= F.lit(len_band)
                ),
            )
            .select(
                F.col("pa.name").alias("name_a"),
                F.col("pb.name").alias("name_b"),
            )
        )
        cand = short_pairs.unionByName(gram_pairs).distinct()

    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).where(F.col("dist") <= max_dist)
