"""Scale techniques as first-class helpers: bucketing for co-located
joins, salting for skewed keys.

Neither exists in the reference (its only partitioning is the fixed
FNV-mod-10 bucket split, ``/root/reference/mr/worker.go:126-133``);
both are table-stakes for the 100 TB deployment this engine targets.

- Bucketing: pre-shuffle a table ONCE at write time
  (``bucketBy(n, key)``); every subsequent equi-join/agg on the key
  reads co-located buckets and skips its exchange entirely. This is
  how a fact-fact join (orders x lineitem) avoids re-shuffling 100 TB
  per query.
- Salting: a hot key (power-law user, stopword shingle) overwhelms one
  reducer. Deriving a salt from the VALUE splits the key's rows into n
  sub-groups whose partials merge associatively; distinct-style aggs
  stay exact because each distinct value maps to exactly one salt.
  (AQE skew-join handles the join case automatically; explicit salting
  remains necessary for aggregation skew.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    num_buckets: int,
    path: str,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by a key.

    Reads of ``name`` expose the bucket spec to Catalyst: equi-joins
    and aggs on ``bucket_col`` between same-bucketed tables plan with
    NO Exchange. At 100 TB, pick num_buckets so one bucket ~ one
    executor-core's worth of data (e.g. 8192 for a 10 TB fact table).
    """
    w = df.write.format("parquet").option("path", path).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.mode("overwrite").saveAsTable(name)


def salted_distinct_count(
    df: DataFrame, key_col: str, value_col: str, n_salts: int = 16
) -> DataFrame:
    """Exact distinct-value count per key, skew-proof.

    Salt = hash(value) mod n: every distinct value lands in exactly one
    (key, salt) sub-group, so per-salt distinct counts sum to the exact
    global distinct count — two ordinary aggregations, no single
    reducer ever sees a whole hot key.
    """
    salted = df.select(
        F.col(key_col).alias("k"),
        F.col(value_col).alias("v"),
        F.pmod(F.xxhash64(value_col), F.lit(n_salts)).alias("_salt"),
    )
    partial = salted.groupBy("k", "_salt").agg(F.countDistinct("v").alias("_d"))
    return partial.groupBy("k").agg(F.sum("_d").alias("n_distinct")).select(
        F.col("k").alias(key_col), "n_distinct"
    )


def split_hot_key_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    hot_threshold: int,
) -> DataFrame:
    """Skew-proof fact-to-dim equi-join by hot/cold key routing.

    A salted join replicates the WHOLE dim once per salt; this form
    replicates NOTHING and instead routes each fact row by whether its
    key is hot:

      1. one partial-agg pass over the fact counts keys; keys with
         >= hot_threshold rows form the hot set. By construction
         |hot set| <= n_fact_rows / hot_threshold, so with a threshold
         sized to ~rows-per-task the hot set is always broadcastable
         (at 100 TB / 10^6-row threshold: <= 10^8/1 ~ a few thousand
         keys, KBs on the wire).
      2. hot fact rows join the hot slice of the dim via BROADCAST —
         no shuffle ever sees the hot key, so no reducer drowns;
      3. cold fact rows take the ordinary shuffle join, whose keys are
         uniform-enough by definition of cold.

    Equivalent to the plain inner join row-for-row (routing is a
    partition of the fact by key; certified by early_user_activity's
    DuckDB oracle, which is the plain join). Prefer AQE's skew split
    when it can see the skew; this explicit form also covers shuffles
    AQE won't re-plan (window-feeding exchanges, first-shot stats
    misses) and keeps working when the dim side is itself too big to
    broadcast whole — only its hot slice must fit.
    """
    counts = fact.groupBy(on).count()
    hot_keys = counts.where(F.col("count") >= hot_threshold).select(on)
    hot_fact = fact.join(F.broadcast(hot_keys), on, "semi")
    cold_fact = fact.join(F.broadcast(hot_keys), on, "anti")
    hot_dim = dim.join(F.broadcast(hot_keys), on, "semi")
    return hot_fact.join(F.broadcast(hot_dim), on).unionByName(
        cold_fact.join(dim, on)
    )


def bloom_prefilter(
    fact: DataFrame,
    build_keys: DataFrame,
    on: str,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Drop fact rows whose join key CANNOT appear on the build side —
    before the join's shuffle ever moves them.

    This is the shuffle-volume lever behind Spark's own runtime
    row-level filtering (``spark.sql.optimizer.runtime.bloomFilter``),
    exposed as an explicit, certifiable operator because the built-in
    injection is internal (`bloom_filter_agg` / `might_contain` are not
    in the public function registry) and only fires when the optimizer's
    stats happen to qualify the join. At 100 TB the difference between
    shuffling the whole fact table and shuffling the ~20 % that can
    match is the whole game for selective fact-dim joins.

    Mechanics — one-hash Bloom bitmap built entirely as DataFrame ops:

      1. build side: each key hashes to one of ``m_bits`` positions;
         positions fold into 64-bit words via ``bit_or(1 << pos%64)``
         grouped by word index — an ordinary partial-aggregating
         groupBy, at most ``m_bits/64`` result rows (16 K rows = 256 KB
         at the 2^20 default);
      2. fact side: broadcast-join the word table on word index and
         keep rows whose bit is set. A key absent from the build side
         either finds no word row (inner join drops it) or finds a
         word with its bit clear.

    NO FALSE NEGATIVES by construction — every build key sets its bit,
    so `bloom_prefilter(fact, keys, on)` followed by the real equi-join
    equals the plain join row-for-row (the join removes the false
    positives); that identity is exactly what the DuckDB oracle of
    ``bloom_pruned_urgent_revenue`` certifies. False-positive rate with
    one hash is ~n/m (0.3 % at n=3 K keys, m=2^20); size ``m_bits`` to
    ~100-1000x the build-side key count. When the build side is itself
    huge (>=10^8 keys, bitmap >=100 MB), stop — a bitmap that big should
    not be broadcast; use a shuffle semi-join instead (same plan Spark
    falls back to when its bloom threshold trips).
    """
    word = F.floor(F.col("_p") / F.lit(64)).alias("_widx")
    # SQL shiftleft, not F.shiftleft: the Python wrapper only takes a
    # literal int shift amount, the SQL form takes a column
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))")
    words = (
        build_keys.select(F.pmod(F.xxhash64(F.col(on)), F.lit(m_bits)).alias("_p"))
        .groupBy(word)
        .agg(F.bit_or(bit).alias("_word"))
    )
    fact_p = fact.withColumn(
        "_p", F.pmod(F.xxhash64(F.col(on)), F.lit(m_bits))
    ).withColumn("_widx", word)
    return (
        fact_p.join(F.broadcast(words), "_widx")
        .where(F.col("_word").bitwiseAND(bit) != 0)
        .drop("_p", "_widx", "_word")
    )


def morton_key(cols: list[Column], bits: int = 16) -> Column:
    """N-column Morton (Z-order) interleave of non-negative ints, each
    truncated to ``bits`` bits: bit b of column j lands at position
    ``b*N + j``, so sorting by the key bounds every file in a compact
    N-D hyper-rectangle and a predicate on ANY clustered column prunes
    via footer stats — the mechanism behind Delta/Iceberg OPTIMIZE
    ZORDER, here as a plain codegen expression (N*bits shift-or terms,
    no UDF, no shuffle of its own). Scale continuous domains to
    [0, 2^bits) upstream (or use ``sinks.zorder_key``, which builds
    the min-max scaling in). ``bits*N`` must stay <= 63."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"bits*ncols = {bits * n} overflows a long key")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftrightunsigned(cl, b).bitwiseAND(F.lit(1)), b * n + j)
            )
    return key


def zorder_key(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative ints — the 2-D
    case of :func:`morton_key` (bit i of x at position 2i, of y at
    2i+1), kept as the named convenience for the common
    two-predicate layout. See morton_key for the pruning rationale;
    scale continuous domains to [0, 2^bits) upstream."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    return morton_key([xc, yc], bits)
