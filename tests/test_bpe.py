"""Semantic pins for the BPE tokenizer-induction loop: the greedy
merge-application rule on crafted adjacency patterns, and the
iteration chaining (iteration 2 must see iteration 1's rewrite).
Dual-engine hash-exactness is covered by the auto-parametrized oracle
rig; these pin WHAT the loop learns."""

from __future__ import annotations

import pytest

from map_reduce_rpc_spark.plans import textops


def _mk_corpus(spark, tmp_path_factory, texts: list[str], name: str) -> str:
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = tmp_path_factory.mktemp(name)
    df.write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def test_greedy_merge_application_rule(spark):
    """The index-local rewrite must equal greedy left-to-right BPE for
    a non-self pair, including back-to-back occurrences and partial
    overlaps with the merged symbol's constituents."""
    cases = [
        # (input tokens, expected after merging (a, b))
        (["a", "b"], ["ab"]),
        (["a", "b", "a", "b"], ["ab", "ab"]),  # adjacent occurrences
        (["a", "b", "b"], ["ab", "b"]),  # trailing constituent
        (["a", "a", "b"], ["a", "ab"]),  # leading constituent
        (["b", "a", "b", "a"], ["b", "ab", "a"]),  # offset run
        (["x", "a", "b", "y"], ["x", "ab", "y"]),
        (["b", "a"], ["b", "a"]),  # reversed pair: no merge
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, t array<string>"
    )
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i",
            textops._bpe_apply_merge("t", "'a'", "'b'").alias("m"),
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]} != {want}"


@pytest.fixture(scope="module")
def bpe_sf_dir(spark, tmp_path_factory) -> str:
    """Corpus engineered so the three learned merges are forced and
    CHAINED: 'q k' dominates round 1; round 2's winner is the MERGED
    symbol 'qk' followed by 'w' — which exists only after round 1's
    rewrite; round 3 merges 'qkw' with 'z' likewise."""
    texts = [" ".join(["q", "k", "w", "z"] * 6)] * 8 + [
        "q k filler one",
        "q k filler two",
    ]
    return _mk_corpus(spark, tmp_path_factory, texts, "bpe_corpus")


def test_bpe_iterations_chain_on_rewritten_corpus(spark, bpe_sf_dir):
    rows = sorted(
        textops.bpe_learn_merges(spark, bpe_sf_dir).collect(),
        key=lambda r: r["iter"],
    )
    assert [(r["a"], r["b"]) for r in rows] == [("q", "k"), ("qk", "w"), ("qkw", "z")]
    # 8 docs x 6 repetitions of the 4-gram + 2 filler docs with 'q k'
    assert rows[0]["pair_n"] == 8 * 6 + 2
    # each merge strictly shrinks the token stream; vocab gains the
    # merged symbol while (eventually) consuming its constituents
    toks = [r["tokens_after"] for r in rows]
    assert toks[0] > toks[1] > toks[2]
