"""Similarity search: brute-force exactness, IVF recall, near-dup pairs."""

from __future__ import annotations

import math

import numpy as np
import pytest

from map_reduce_rpc_spark.operators import similarity
from map_reduce_rpc_spark.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    got = similarity.brute_force_topk(emb, [0, 1], k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid in (0, 1):
        q = vecs[qid]
        expect = sorted(
            ((np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)), i)
             for i, v in vecs.items() if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        ours = sorted(by_q[qid], key=lambda r: r["rnk"])
        assert [r["neighbor_id"] for r in ours] == [i for _, i in expect]
        for r, (c, _) in zip(ours, expect):
            assert math.isclose(r["cos"], c, rel_tol=1e-9)


def test_ivf_recall_vs_brute_force(spark, emb):
    qids = list(range(8))
    brute = similarity.brute_force_topk(emb, qids, k=10).collect()
    ivf = similarity.ivf_topk(emb, qids, k=10, nprobe=5).collect()
    b = {(r["query_id"], r["neighbor_id"]) for r in brute}
    a = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(a & b) / len(b)
    # the synthetic labels are weak clusters: IVF must at least beat
    # the scanned-fraction floor (nprobe/nlist = 0.5)
    assert recall >= 0.5, f"IVF recall below scanned-fraction floor: {recall}"


def test_blocked_near_dups_symmetric_and_thresholded(spark, emb):
    # 0.3, not 0.5: no pair in the test embeddings reaches 0.5, and the
    # checks below would hold on an empty list
    pairs = similarity.blocked_near_dup_pairs(emb, threshold=0.3).collect()
    assert pairs
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(r["cos"] >= 0.3 for r in pairs)


def test_blocked_near_dups_strategy_switch(spark, sf_dir, emb, monkeypatch):
    """One budget, similarity.BROADCAST_MAX_BYTES, switches both
    size-selected joins: blocked_near_dup_pairs' pair join and
    decontamination's bench-gram join (textops._gram_overlap_hits).
    Under a budget Catalyst's estimate exceeds, neither plans a
    BroadcastHashJoin; under one it fits, both do. Rows are identical
    either way, and non-empty (threshold 0.3: no pair in the test
    data reaches 0.5). Spark's own size-based broadcast is off here, so
    a BroadcastHashJoin can only come from the selection under test."""
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.functions.text import word_ngrams
    from map_reduce_rpc_spark.plans.textops import _gram_overlap_hits

    # decontaminate_docs' gram frame over a scan (a local frame carries
    # no size estimate), with a denser bench set so hits are many
    sh = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 3 == 0).alias("is_bench"),
        F.explode(F.array_distinct(word_ngrams("text", 3))).alias("g"),
    )

    def plans_and_rows(budget):
        monkeypatch.setattr(similarity, "BROADCAST_MAX_BYTES", budget)
        pairs = similarity.blocked_near_dup_pairs(emb, threshold=0.3)
        hits = _gram_overlap_hits(sh)
        return [
            (
                "BroadcastHashJoin"
                in df._jdf.queryExecution().executedPlan().toString(),
                sorted(map(tuple, df.collect())),
            )
            for df in (pairs, hits)
        ]

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled = plans_and_rows(1)
        broadcast = plans_and_rows(1 << 40)
    finally:
        spark.conf.set(key, saved)
    assert [bhj for bhj, _ in shuffled] == [False, False]
    assert [bhj for bhj, _ in broadcast] == [True, True]
    assert [rows for _, rows in shuffled] == [rows for _, rows in broadcast]
    assert all(rows for _, rows in broadcast)


def test_srp_lsh_finds_planted_near_dups(spark, emb):
    """Plant perturbed copies of real vectors (cos > 0.99); SRP-LSH
    must recover every planted pair, and the exact verify guarantees
    no pair below threshold survives."""
    from pyspark.sql import functions as F

    sample = emb.orderBy("vec_id").limit(10).collect()
    rng = np.random.default_rng(7)
    planted = []
    for r in sample:
        v = np.array(r.embedding, dtype=np.float32)
        noisy = v + rng.standard_normal(v.shape).astype(np.float32) * 0.02 * np.abs(v).mean()
        planted.append((int(r.vec_id) + 1_000_000, [float(x) for x in noisy], int(r.label)))
    aug = emb.unionByName(
        spark.createDataFrame(planted, ["vec_id", "embedding", "label"]).select(
            "vec_id", F.col("embedding").cast("array<float>"), "label"
        )
    )
    pairs = similarity.srp_near_dup_pairs(aug, threshold=0.95).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(int(r.vec_id), int(r.vec_id) + 1_000_000) for r in sample}
    assert expected <= found, f"missed planted pairs: {expected - found}"
    assert all(r.cos >= 0.95 for r in pairs)  # exact verify: no false positives


def test_srp_agrees_with_exact_on_natural_data(spark, emb):
    """No natural pair reaches the threshold, and SRP must not invent
    any (precision is exact by construction)."""
    exact = similarity.blocked_near_dup_pairs(emb, threshold=0.9).count()
    srp = similarity.srp_near_dup_pairs(emb, threshold=0.9).count()
    assert exact == 0 and srp == 0


def test_kmeans_cells_partition_and_determinism(spark, emb):
    """Every vector gets exactly one cell in [0, k); the whole
    pipeline is deterministic (md5-ordered init, fixed iterations, tie
    break by centroid position) so two independent runs must agree
    exactly."""
    a = similarity.kmeans_fit(emb, k=4, iters=2)[1].collect()
    b = similarity.kmeans_fit(emb, k=4, iters=2)[1].collect()
    n = emb.count()
    assert len(a) == n
    assert all(0 <= r["cell"] < 4 for r in a)
    assert sorted((r["id"], r["cell"]) for r in a) == sorted(
        (r["id"], r["cell"]) for r in b
    )


def test_kmeans_iterations_reduce_inertia(spark, emb):
    """Lloyd's invariant: total within-cell squared distance never
    increases with more iterations (measured against each run's own
    final centroids via the per-cell mean)."""
    import numpy as np

    rows = emb.collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}

    def inertia(iters: int) -> float:
        cells = similarity.kmeans_fit(emb, k=4, iters=iters)[1].collect()
        by_cell: dict[int, list] = {}
        for r in cells:
            by_cell.setdefault(r["cell"], []).append(vecs[r["id"]])
        total = 0.0
        for vs in by_cell.values():
            m = np.mean(vs, axis=0)
            total += sum(float(np.sum((v - m) ** 2)) for v in vs)
        return total

    i1, i3 = inertia(1), inertia(3)
    assert i3 <= i1 + 1e-6, f"inertia rose: {i1} -> {i3}"


def test_kmeans_ivf_recall_beats_scanned_fraction(spark, sf_dir):
    """Trained cells must make probing pay: recall@10 above the
    nprobe/k scanned fraction (and in practice well above the
    label-block IVF at the same budget)."""
    from map_reduce_rpc_spark.plans import vectors

    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in vectors.similarity_topk(spark, sf_dir).collect()
    }
    km = {
        (r["query_id"], r["neighbor_id"])
        for r in vectors.ann_kmeans_topk(spark, sf_dir).collect()
    }
    recall = len(km & brute) / len(brute)
    scanned = 3 / vectors.KMEANS_K
    assert recall > scanned, f"recall {recall} <= scanned fraction {scanned}"


def test_srp_auto_calibration_widens_bands(spark):
    """With n_bits=None the band width follows max(8, ceil(log2(N/64))):
    small corpora keep the historical 8x8-bit family; a corpus past
    bands x 2^8 gets wider bands, and identical twins are still found
    (recall at cos=1.0 survives ANY width — twins share every band)."""
    import pandas as pd

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(600)),
                "embedding": [
                    [float((i * 37 + d * 11) % 97) / 97.0 for d in range(8)]
                    # 300 base vectors, each with one identical twin
                    for i in [j % 300 for j in range(600)]
                ],
            }
        )
    )
    # N=600 -> width = ceil(log2(600/64)) = 4 -> clamped to 8: unchanged
    pairs_auto = similarity.srp_near_dup_pairs(emb, threshold=0.9999)
    pairs_pinned = similarity.srp_near_dup_pairs(emb, threshold=0.9999, n_bits=64)
    twins = {(i, i + 300) for i in range(300)}
    got_auto = {(r["id_a"], r["id_b"]) for r in pairs_auto.collect()}
    got_pinned = {(r["id_a"], r["id_b"]) for r in pairs_pinned.collect()}
    assert twins <= got_auto and twins <= got_pinned

    # Explicit wide family (16-bit bands, 128 sig bits): twins still
    # collide on every band; the wider space only sheds FALSE buckets.
    wide = similarity.srp_near_dup_pairs(emb, threshold=0.9999, n_bits=128)
    assert twins <= {(r["id_a"], r["id_b"]) for r in wide.collect()}


def test_srp_band_values_match_packed_bits(spark):
    """Band values must pack bit j into band j//width at position
    j%width (little-endian) — the exact layout the DuckDB oracle
    replays; a drift here would break srp_near_dups' hash match."""
    import numpy as np

    emb = spark.createDataFrame(
        [(0, [0.9, -0.4, 0.3, 0.1]), (1, [-0.2, 0.8, -0.7, 0.5])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r["id"]: list(r["bands"])
        for r in similarity.srp_signatures(emb, n_bits=64, bands=8).collect()
    }
    # recompute in pure python from the public definition
    for vid, vec in [(0, [0.9, -0.4, 0.3, 0.1]), (1, [-0.2, 0.8, -0.7, 0.5])]:
        q = [int(np.floor(np.float64(np.float32(x)) * similarity.SRP_QUANT)) for x in vec]
        bits = [
            sum(q[d] * similarity.srp_plane_sign(42, j, d) for d in range(4)) > 0
            for j in range(64)
        ]
        expect = [
            sum((1 << k) for k in range(8) if bits[b * 8 + k]) for b in range(8)
        ]
        assert rows[vid] == expect, f"vec {vid}"


def test_sq8_codes_bounded_and_deterministic(spark, emb):
    coded = similarity.sq8_encode(emb, similarity.sq8_calibrate(emb))
    rows = coded.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["code"]) == 64
        assert all(-127 <= c <= 127 for c in r["code"])
    again = {
        r["vec_id"]: r["code"]
        for r in similarity.sq8_encode(
            emb, similarity.sq8_calibrate(emb)
        ).collect()
    }
    for r in rows:
        assert again[r["vec_id"]] == r["code"]


def test_sq8_recall_vs_brute_force(spark, emb):
    qids = list(range(8))
    brute = similarity.brute_force_topk(emb, qids, k=10).collect()
    sq8 = similarity.sq8_topk(emb, qids, k=10).collect()
    assert len(sq8) == len(brute)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute}
    a = {(r["query_id"], r["neighbor_id"]) for r in sq8}
    recall = len(a & b) / len(b)
    # Under the GLOBAL scale the integer dot is proportional to the
    # true dot, so ranking differs from exact cosine only by
    # quantization noise: measured recall@10 is 1.0 on this corpus
    # (the earlier per-dimension-scale form sat at 0.78 — a metric
    # distortion the property suite caught, not a data ceiling).
    # Gate at 0.9 for headroom against future corpus regeneration.
    assert recall >= 0.9, f"SQ8 recall collapsed: {recall}"


def test_pq_codes_shape_and_determinism(spark, emb):
    books = similarity.pq_codebooks(emb, dim=64)
    assert len(books) == similarity.PQ_M
    assert all(len(b) == similarity.PQ_KSUB for b in books)
    assert all(len(c) == 64 // similarity.PQ_M for b in books for c in b)
    coded = similarity.pq_encode(emb, books, dim=64).collect()
    assert len(coded) == emb.count()
    for r in coded[:50]:
        assert len(r["codes"]) == similarity.PQ_M
        assert all(0 <= c < similarity.PQ_KSUB for c in r["codes"])
    again = {
        r["vec_id"]: r["codes"]
        for r in similarity.pq_encode(
            emb, similarity.pq_codebooks(emb, dim=64), dim=64
        ).collect()
    }
    for r in coded:
        assert again[r["vec_id"]] == r["codes"]


def test_pq_rerank_beats_raw_adc_recall(spark, emb):
    """PQ is data-bound on this corpus: 8-byte codes cannot resolve
    the ~0.003 boundary cosine gaps of near-random vectors (a numpy
    replica measures ~0.12 raw-ADC and ~0.48 shortlist-50 + re-rank
    recall@10; structured corpora sit >0.95). The gates assert the
    MECHANISM: re-ranking must recover strictly more of the exact
    top-10 than raw ADC, and both must beat chance (10/N ~ 0.02)."""
    qids = list(range(8))
    brute = similarity.brute_force_topk(emb, qids, k=10).collect()
    b = {(r["query_id"], r["neighbor_id"]) for r in brute}
    adc = similarity.pq_adc_topk(emb, qids, k=10).collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in adc}
    rr = similarity.pq_rerank_topk(emb, qids, k=10, shortlist=50).collect()
    r = {(r_["query_id"], r_["neighbor_id"]) for r_ in rr}
    adc_recall = len(a & b) / len(b)
    rr_recall = len(r & b) / len(b)
    assert len(rr) == len(b)
    assert rr_recall > adc_recall, (rr_recall, adc_recall)
    assert adc_recall >= 0.08 and rr_recall >= 0.35, (adc_recall, rr_recall)


def test_pq_trained_codebooks_beat_sampled(spark, emb):
    """Training the codebooks (per-sub-space Lloyd's) must strictly
    improve raw-ADC recall over the zero-iteration sampled form on the
    same corpus — the property that justifies paying the training
    jobs. Both stay capacity-bound well below SQ8 (8-byte codes)."""
    qids = list(range(8))
    brute = similarity.brute_force_topk(emb, qids, k=10).collect()
    b = {(r["query_id"], r["neighbor_id"]) for r in brute}

    def adc_recall(books):
        coded = similarity.pq_encode(emb, books, dim=64)
        queries = emb.where(emb.vec_id.isin(qids))
        # score through the public path by swapping codebooks: re-run
        # pq_adc_topk's scoring manually would duplicate it; instead
        # encode + exact ADC via the operator's own internals is
        # overkill here — just measure via pq_adc_topk on a corpus
        # whose codebooks we can't inject. So: inline ADC with numpy.
        import numpy as np

        rows = emb.collect()
        ids = np.array([r["vec_id"] for r in rows])
        M = np.array([np.array(r["embedding"], dtype=np.float64) for r in rows])
        code_map = {r["vec_id"]: r["codes"] for r in coded.collect()}
        recon = np.array(
            [
                np.concatenate(
                    [books[j][code_map[i][j]] for j in range(len(books))]
                )
                for i in ids
            ]
        )
        hits = 0
        for qi in qids:
            q = int(np.where(ids == qi)[0][0])
            d = ((M[q][None, :] - recon) ** 2).sum(axis=1)
            d[q] = 1e18
            top = ids[np.lexsort((ids, d))[:10]]
            hits += len(set(top) & {n for (qq, n) in b if qq == qi})
        return hits / len(b)

    sampled = adc_recall(similarity.pq_codebooks(emb, dim=64))
    trained = adc_recall(similarity.pq_codebooks_trained(emb, dim=64, iters=2))
    assert trained > sampled, (trained, sampled)
    # absolute level stays capacity-bound (8-byte codes, ~0.003 cosine
    # gaps): measured 0.175 at iters=2 vs 0.125 sampled; a numpy sweep
    # shows ~0.21 at iters=4 and ~0.31 only at ksub=64 — the gate pins
    # the improvement, not an unreachable level
    assert trained >= 0.15, (trained, sampled)


def test_ivfpq_composition_pruned_exact_and_deterministic(spark, emb):
    """ivfpq_topk = IVF probe -> ADC shortlist -> exact rerank. The
    composition gates: (1) PRUNING — every returned neighbor must live
    in one of its query's probed blocks (the exact-within-probed IVF
    candidate set at k=N is the universe); (2) EXACTNESS — for pairs
    both paths return, the reranked cosine must equal IVF's exact
    cosine bit-for-bit (both are the same sequential fold over floats);
    (3) recall vs the exact-within-probed top-10 beats the PQ
    data-bound floor (shortlist-50 rerank measures ~0.5 on this
    near-random corpus); (4) determinism run-to-run."""
    qids = list(range(8))
    n = emb.count()
    ivf_all = similarity.ivf_topk(emb, qids, k=n, nprobe=5).collect()
    universe = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in ivf_all}
    ivf_top10 = {
        (r["query_id"], r["neighbor_id"]) for r in ivf_all if r["rnk"] <= 10
    }
    got = similarity.ivfpq_topk(emb, qids, k=10, nprobe=5, shortlist=50).collect()
    assert len(got) == len(qids) * 10
    pairs = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in got}
    assert set(pairs) <= set(universe), "neighbor outside probed blocks"
    for p, c in pairs.items():
        assert c == universe[p], f"rerank cosine != exact IVF cosine at {p}"
    recall = len(set(pairs) & ivf_top10) / len(ivf_top10)
    assert recall >= 0.3, f"ivfpq recall vs exact-within-probed: {recall}"
    again = similarity.ivfpq_topk(emb, qids, k=10, nprobe=5, shortlist=50).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_mmr_rerank_suppresses_near_duplicate(spark):
    """MMR must deviate from pure relevance order when the runner-up
    near-duplicates the first pick: with rel(1)=.99, rel(2)=.98,
    rel(3)=.60 and sim(1,2)=.99 (dups), greedy lambda=.7 selection is
    1, 3, 2 — the duplicate is deferred below a much less relevant
    but novel document. Pure relevance would return 1, 2, 3."""
    from map_reduce_rpc_spark.operators.similarity import mmr_rerank

    short = spark.createDataFrame(
        [(0, 1, 0.99), (0, 2, 0.98), (0, 3, 0.60)],
        "query_id long, neighbor_id long, rel double",
    )
    sims = spark.createDataFrame(
        [(0, a, b, s) for a, b, s in
         [(1, 2, 0.99), (2, 1, 0.99), (1, 3, 0.0),
          (3, 1, 0.0), (2, 3, 0.0), (3, 2, 0.0)]],
        "query_id long, a long, b long, sim double",
    )
    picks = {
        r["pick"]: r["doc"]
        for r in mmr_rerank(short, sims, lam=0.7, k=3).collect()
    }
    assert picks == {1: 1, 2: 3, 3: 2}


def test_mmr_rerank_null_rel_picked_last(spark):
    """A NULL-rel candidate has a NULL mmr and ranks after every scored
    one (mmr DESC NULLS LAST), even when it holds the smallest
    neighbor_id and so seeds each step's argmax fold."""
    from map_reduce_rpc_spark.operators.similarity import mmr_rerank

    short = spark.createDataFrame(
        [(0, 1, None), (0, 2, 0.50), (0, 3, 0.90)],
        "query_id long, neighbor_id long, rel double",
    )
    sims = spark.createDataFrame(
        [(0, a, b, 0.0) for a in (1, 2, 3) for b in (1, 2, 3) if a != b],
        "query_id long, a long, b long, sim double",
    )
    picks = {
        r["pick"]: (r["doc"], r["mmr"])
        for r in mmr_rerank(short, sims, lam=0.7, k=3).collect()
    }
    assert [picks[p][0] for p in (1, 2, 3)] == [3, 2, 1]
    assert picks[3][1] is None
