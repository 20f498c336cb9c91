"""Dedup operators on planted duplicates (what the synthetic corpus
lacks) + sanity on the real documents table."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from map_reduce_rpc_spark.operators import dedup


@pytest.fixture(scope="module")
def planted(spark):
    """12 docs: 3 exact-dup group members, 2 near-dup pairs (small
    edits), the rest distinct."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while birds sing morning songs"
    )
    edited = base.replace("lazy dog", "sleepy cat")  # near-dup of base
    other = (
        "completely different content about database engines columnar "
        "storage vectorized execution and query optimizers at scale"
    )
    other_edit = other.replace("query optimizers", "cost models")
    rows = [
        (0, base),
        (1, base.upper()),          # exact dup after normalization
        (2, "  " + base + "  "),    # exact dup after normalization
        (3, edited),                # near dup of 0
        (4, other),
        (5, other_edit),            # near dup of 4
        (6, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (7, "one two three four five six seven eight nine ten eleven"),
        (8, "spark catalyst tungsten adaptive execution shuffle partition"),
        (9, "tiny"),                # < n tokens: no shingles
        (10, ""),                   # empty
        (11, "unrelated words entirely here nothing shared with others"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(planted):
    groups = dedup.exact_dup_groups(planted, "doc_id", "text")
    dup = groups.where(F.col("n_copies") > 1).collect()
    assert len(dup) == 1
    assert dup[0]["n_copies"] == 3
    assert dup[0]["keeper_id"] == 0


def test_ngram_jaccard_finds_near_dups(planted):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            planted, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    # exact dups -> jaccard 1.0
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 1.0
    assert pairs[(1, 2)] == 1.0
    # near dups present with high-but-not-1 similarity
    assert 0.3 <= pairs[(0, 3)] < 1.0
    assert 0.3 <= pairs[(4, 5)] < 1.0
    # unrelated docs absent
    assert (6, 7) not in pairs and (4, 6) not in pairs


def test_minhash_lsh_recall_and_precision(planted):
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            planted, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            planted, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    # verification step guarantees no false positives
    assert got <= exact
    # at these similarities (>=0.5) 16 bands x 4 rows recall is ~1
    high = {(0, 1), (0, 2), (1, 2)}
    assert high <= got


def test_simhash_near_dups(planted):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(planted, "doc_id", "text", max_hamming=6).collect()
    }
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0 and pairs[(1, 2)] == 0
    # near-dup pair lands within the hamming ball; unrelated pair doesn't
    assert (6, 7) not in pairs


def test_minhash_on_real_corpus_runs(spark, sf_dir):
    from map_reduce_rpc_spark.plans.textops import minhash_dups

    df = minhash_dups(spark, sf_dir)
    assert {c for c in df.columns} == {"id_a", "id_b", "jaccard"}
    df.count()  # executes without error


def test_bucket_cap_bounds_candidates(spark, sf_dir):
    """max_bucket drops degenerate band buckets: output is a subset of
    the uncapped pair set, and a tight cap on the templated corpus
    (huge shared-boilerplate buckets) strictly reduces pair count."""
    from map_reduce_rpc_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    capped = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3, max_bucket=4)
    full_pairs = {(r["id_a"], r["id_b"]) for r in full.collect()}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert capped_pairs <= full_pairs
    assert len(capped_pairs) < len(full_pairs)


def test_portable_hash_matches_duckdb(spark, duck):
    """portable_hash60 must equal DuckDB's hex-prefix cast for the
    same input — the primitive every probabilistic-dedup oracle
    rests on."""
    words = ["hello", "the quick brown fox", "ümlaut", ""]
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        F.col("w"), dedup.portable_hash60(F.col("w")).alias("h")
    )
    got = {r["w"]: r["h"] for r in df.collect()}
    for w in words:
        (expect,) = duck.execute(
            "SELECT ('0x' || substring(md5(?), 1, 15))::BIGINT", [w]
        ).fetchone()
        assert got[w] == expect, w


def test_containment_catches_quotation_jaccard_misses(spark):
    """A short doc fully embedded in a long doc: jaccard is tiny (the
    long doc's window set dwarfs the short one's) but containment is
    ~1.0 — the case this operator family exists for."""
    quote = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while birds sing morning songs"
    )
    # letter-only unique tokens (the tokenizer drops digits, so
    # "filler1 filler2" would collapse into identical shingles)
    def alpha(i: int) -> str:
        s = ""
        i += 1
        while i:
            s += chr(ord("a") + i % 26)
            i //= 26
        return s

    filler = " ".join(
        f"fill{alpha(i)} tok{alpha(i)} wrd{alpha(i)}" for i in range(120)
    )
    rows = [
        (0, quote),
        (1, filler[: len(filler) // 2] + " " + quote + " " + filler),
        (2, "entirely unrelated content about columnar storage engines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    jac = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    assert jac.count() == 0  # inclusion is invisible to jaccard@0.5

    cont = dedup.containment_pairs(docs, "doc_id", "text", k=8, min_shared=2)
    rows_out = {(r["id_a"], r["id_b"]): r for r in cont.collect()}
    assert (0, 1) in rows_out
    assert rows_out[(0, 1)]["containment"] == 1.0  # every window of 0 is in 1
    assert all(k == (0, 1) for k in rows_out)  # no pair with doc 2


def test_containment_max_df_prunes_boilerplate(spark):
    """A window shared by MANY docs (boilerplate header) must not
    produce O(n^2) pairs when max_df prunes it."""
    header = "standard license header apache version two point zero here"
    rows = [(i, header + f" unique tail {i} alpha beta gamma") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    unpruned = dedup.containment_pairs(docs, "doc_id", "text", k=8, min_shared=1)
    pruned = dedup.containment_pairs(
        docs, "doc_id", "text", k=8, min_shared=1, max_df=10
    )
    assert unpruned.count() == 190  # C(20,2): all pairs share the header
    assert pruned.count() == 0


def test_fuzzy_default_band_is_lossless(spark):
    """Round-4 advice: len_band=2 < max_dist=3 silently dropped pairs
    like ('abc','abcxyz') (length diff 3, edit distance 3). The default
    band now equals max_dist, making the length blocking lossless."""
    docs = spark.createDataFrame(
        [(0, "abc"), (1, "abcxyz"), (2, "zzzz")], "id long, name string"
    )
    pairs = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in dedup.fuzzy_name_pairs(docs, "name", max_dist=3).collect()
    }
    assert ("abc", "abcxyz", 3) in pairs
    # explicit narrower band is the documented approximate-recall trade
    banded = dedup.fuzzy_name_pairs(docs, "name", max_dist=3, len_band=2)
    assert ("abc", "abcxyz", 3) not in {
        (r["name_a"], r["name_b"], r["dist"]) for r in banded.collect()
    }


def test_fuzzy_qgram_blocking_is_lossless(spark):
    """Ed-Join positional-q-gram prefix filtering must return EXACTLY
    the plain length-band result — on an adversarial fixture: repeated
    grams (occurrence numbering), names shorter than q*(d+1) (short
    fallback path), short-vs-long pairs, and frequent shared grams."""
    names = [
        "aaaaaaaaaa", "aaaaaaaaab", "aaaa", "aaab",          # gram repeats
        "ab", "ba", "x", "",                                  # < q shorts
        "lemon blush powder", "lemon blush powdr",            # real-ish
        "lemon blush powde", "melon blush powder",
        "abcdefgh", "abcdefghijk",                            # len diff 3
        "qrstuvwx", "qrstuvwxyz12",                           # len diff 4: out
    ]
    docs = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    plain = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in dedup.fuzzy_name_pairs(docs, "name", max_dist=3).collect()
    }
    blocked = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in dedup.fuzzy_name_pairs(
            docs, "name", max_dist=3, qgram=2
        ).collect()
    }
    assert blocked == plain
    assert ("abcdefgh", "abcdefghijk", 3) in plain  # crosses the short cut


def test_fuzzy_qgram_matches_plain_on_part_names(spark, sf_dir):
    """End-to-end on the real part catalog: the blocked and plain paths
    agree pair-for-pair (the registered query runs the blocked path;
    its oracle states only band + levenshtein, so this equivalence is
    what keeps the oracle honest)."""
    from map_reduce_rpc_spark.tables import load_table

    part = load_table(spark, sf_dir, "part")
    plain = {
        (r["name_a"], r["name_b"])
        for r in dedup.fuzzy_name_pairs(part, "p_name", max_dist=3).collect()
    }
    blocked = {
        (r["name_a"], r["name_b"])
        for r in dedup.fuzzy_name_pairs(
            part, "p_name", max_dist=3, qgram=2
        ).collect()
    }
    assert blocked == plain and len(plain) > 0


def test_forget_neardup_repoints_and_purges(spark, tmp_path):
    """forget_docs_neardup_manifest's bounded re-decide, pinned on a
    corpus built to exercise all four decision fates:
      doc 0  victim (0%7==0)          -> absent from both manifests
      doc 2  pointed at victim 0      -> re-decided: still dups doc
                                         nothing earlier -> KEPT
      doc 3  (batch 1) pointed at 0   -> re-decided: RE-POINTED to the
                                         older surviving twin doc 2
      doc 8  pointed at survivor 4    -> pointer untouched
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_rpc_spark.plans import textops

    a = "the quick brown fox jumps over the lazy dog tonight"
    b = "entirely different words compose this second document body text"
    c = "completely unrelated third text with its own unique vocabulary"
    rows = {
        0: a,  # victim, batch 0, arrival_key 0
        2: a,  # batch 0, key 2: base dup_of 0 (victim)
        3: a,  # batch 1, key STRIDE+3: base dup_of 0 (victim)
        4: b,  # batch 0, key 4: kept
        8: b,  # batch 0, key 8: base dup_of 4 (survivor) - untouched
        5: c,  # kept, unrelated
        7: c,  # victim (7%7==0), batch 1 - must vanish too
    }
    sfd = str(tmp_path / "sf")
    import os

    os.makedirs(sfd)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(rows), pa.int64()),
                "text": pa.array(list(rows.values()), pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["t"] * len(rows), pa.string()),
            }
        ),
        os.path.join(sfd, "documents.parquet"),
    )

    base = {
        r["doc_id"]: (r["is_kept"], r["dup_of"])
        for r in textops.incremental_neardup_manifest(spark, sfd).collect()
    }
    # base sanity: 2 and 3 point at the doomed doc 0, 8 at survivor 4
    assert base[2] == (False, 0) and base[3] == (False, 0)
    assert base[8] == (False, 4)

    out = {
        r["doc_id"]: (r["is_kept"], r["dup_of"])
        for r in textops.forget_docs_neardup_manifest(spark, sfd).collect()
    }
    assert set(out) == {2, 3, 4, 5, 8}  # victims 0 and 7 gone
    assert out[2] == (True, -1)  # only match was the victim -> kept
    assert out[3] == (False, 2)  # re-pointed to the older survivor
    assert out[8] == (False, 4)  # survivor pointer untouched
    assert out[4] == (True, -1) and out[5] == (True, -1)

    # and the manifests physically forgot: no victim row anywhere
    import glob

    forget_roots = {
        p.split("/docs/")[0]
        for p in glob.glob(
            "/tmp/spark_graft_neardup_forget_*/docs/**/*.parquet",
            recursive=True,
        )
    }
    newest = max(forget_roots, key=os.path.getmtime)
    for sub in ("docs", "bands"):
        files = glob.glob(
            os.path.join(newest, sub, "**", "*.parquet"), recursive=True
        )
        if files:
            got = spark.read.parquet(os.path.join(newest, sub))
            assert got.where("doc % 7 = 0").count() == 0, sub


def test_leakage_safe_split_no_cluster_spans_splits(spark):
    """The structural guarantee: every near-dup cluster lands wholly
    inside ONE split, and every document is assigned exactly once."""
    from map_reduce_rpc_spark.plans import textops

    sf = "/root/testdata/sf0.01"
    out = textops.leakage_safe_split(spark, sf)
    rows = out.collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) == n_docs
    by_comp: dict[int, set[str]] = {}
    for r in rows:
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_comp.values()), (
        "a dup cluster spans train/eval: "
        f"{[c for c, s in by_comp.items() if len(s) > 1][:5]}"
    )
    # and the split is non-degenerate on this corpus
    splits = {r.split for r in rows}
    assert "train" in splits and len(splits) >= 2


def test_decontaminate_fuzzy_flags_cross_boundary_near_dups(spark, sf_dir):
    """The fuzzy scrub must actually FIRE on the test corpus (planted
    near-dups cross the mod-10 bench boundary at every sf — that is
    why FUZZY_DECON_MOD is 10, not DECON_MOD's 100), and its evidence
    columns must be internally consistent."""
    from map_reduce_rpc_spark.plans.textops import (
        FUZZY_DECON_MOD,
        JACCARD_THRESHOLD,
        decontaminate_fuzzy,
    )

    rows = decontaminate_fuzzy(spark, sf_dir).collect()
    assert all(r["doc_id"] % FUZZY_DECON_MOD != 0 for r in rows)
    hits = [r for r in rows if r["contaminated"]]
    assert hits, "no contaminated doc flagged — certification is vacuous"
    for r in hits:
        assert r["n_bench_matches"] >= 1
        assert r["max_jaccard"] >= JACCARD_THRESHOLD
    for r in rows:
        if not r["contaminated"]:
            assert r["n_bench_matches"] == 0 and r["max_jaccard"] == 0.0


def test_repeated_spans_consistency(spark, sf_dir):
    """Span accounting must be internally consistent: spans only on
    docs with >= SPAN_K tokens, dup_tokens bounded by n_tokens, each
    span at least SPAN_K tokens long (so dup_tokens >= n_spans *
    SPAN_K), and the signal is non-vacuous on the corpus."""
    from map_reduce_rpc_spark.plans.textops import SPAN_K, repeated_spans

    rows = repeated_spans(spark, sf_dir).collect()
    assert rows
    flagged = [r for r in rows if r["n_spans"] > 0]
    assert flagged, "no repeated span found — certification is vacuous"
    for r in rows:
        assert 0 <= r["dup_tokens"] <= r["n_tokens"], r
        assert r["dup_tokens"] >= r["n_spans"] * SPAN_K, r
        assert 0 <= r["dup_ppm"] <= 1_000_000, r
