"""Property-based tests (hypothesis) for the hand-built operators.

The oracle suite checks fixed corpora; these properties attack the
operators with adversarial generated inputs — empty strings, equal
timestamps, single-key pile-ups — where boundary bugs live. Example
counts are kept small because each example runs a real Spark job.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0,
        max_size=700,
    ),
    min_size=1,
    max_size=6,
)


@settings(**_SETTINGS)
@given(texts=_texts)
def test_chunking_reconstructs_every_document(spark, texts):
    """Chunks tile the document exactly: the first `stride` chars of
    each non-final chunk plus the whole final chunk reassemble the
    original text, for any length incl. empty and sub-stride."""
    from map_reduce_rpc_spark.plans.textops import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        chunk_table,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = chunk_table(docs).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        rows = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        # expected chunk list computed independently
        n_chunks = max(1, -(-max(len(t), 1) // CHUNK_STRIDE))
        exp = [t[k * CHUNK_STRIDE : k * CHUNK_STRIDE + CHUNK_SIZE] for k in range(n_chunks)]
        assert [r.chunk_start for r in rows] == [k * CHUNK_STRIDE for k in range(n_chunks)]
        assert [r.chunk_len for r in rows] == [len(c) for c in exp]
        assert [r.chunk_md5 for r in rows] == [
            hashlib.md5(c.encode()).hexdigest() for c in exp
        ]
        # tiling property
        rebuilt = "".join(c[:CHUNK_STRIDE] for c in exp[:-1]) + exp[-1]
        assert rebuilt == t


_asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=40),  # ts (collisions likely)
        st.integers(min_value=-5, max_value=5),  # payload
    ),
    min_size=0,
    max_size=25,
)


@settings(**_SETTINGS)
@given(left=_asof_rows, right=_asof_rows)
def test_asof_backward_matches_reference_model(spark, left, right):
    """The backward as-of join must equal the obvious O(n*m) model:
    latest right ts <= left ts per key, ties -> max payload."""
    from map_reduce_rpc_spark.operators.asof import asof_join_backward

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(left)],
        "row_id long, k long, lts long",
    )
    rdf = spark.createDataFrame(
        [(k, t, p) for (k, t, p) in right], "k long, rts long, payload long"
    )

    def model(k, lts):
        cands = [(t, p) for (rk, t, p) in right if rk == k and t <= lts]
        return max(cands) if cands else (None, None)

    expected = {
        i: model(k, t) for i, (k, t, _) in enumerate(left)
    }
    out = asof_join_backward(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts", payload_cols=["payload"]
    ).collect()
    got = {r.row_id: (r.matched_ts_us, r.matched_payload) for r in out}
    assert got == expected


@settings(**_SETTINGS)
@given(
    left=_asof_rows,
    right=_asof_rows,
    tol=st.one_of(st.none(), st.integers(min_value=0, max_value=12)),
)
def test_asof_forward_and_nearest_match_reference_model(spark, left, right, tol):
    """Forward: earliest right ts >= left ts per key, ties -> min
    payload. Nearest: min |right ts - left ts|, exact tie -> the
    backward candidate. Both checked against the O(n*m) model, with
    and without a tolerance bound — the nearest tolerance path (a
    nearer-but-out-of-tolerance side must fall through to the other
    direction's in-tolerance match) is the trickiest branch."""
    from map_reduce_rpc_spark.operators.asof import (
        asof_join_forward,
        asof_join_nearest,
    )

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(left)],
        "row_id long, k long, lts long",
    )
    rdf = spark.createDataFrame(
        [(k, t, p) for (k, t, p) in right], "k long, rts long, payload long"
    )

    def fwd_model(k, lts):
        cands = [
            (t, p)
            for (rk, t, p) in right
            if rk == k and t >= lts and (tol is None or t - lts <= tol)
        ]
        return min(cands) if cands else (None, None)

    def near_model(k, lts):
        back = [
            (t, p)
            for (rk, t, p) in right
            if rk == k and t <= lts and (tol is None or lts - t <= tol)
        ]
        fwd = [
            (t, p)
            for (rk, t, p) in right
            if rk == k and t >= lts and (tol is None or t - lts <= tol)
        ]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        if b is not None and f is not None:
            return b if (lts - b[0]) <= (f[0] - lts) else f
        return b or f or (None, None)

    kw = dict(
        on="k",
        left_ts="lts",
        right_ts="rts",
        payload_cols=["payload"],
        tolerance_us=tol,
    )
    for impl, model in ((asof_join_forward, fwd_model), (asof_join_nearest, near_model)):
        out = impl(ldf, rdf, **kw).collect()
        got = {r.row_id: (r.matched_ts_us, r.matched_payload) for r in out}
        expected = {i: model(k, t) for i, (k, t, _) in enumerate(left)}
        assert got == expected, impl.__name__


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # block
        st.integers(min_value=0, max_value=40),   # node a (per-block ns)
        st.integers(min_value=0, max_value=40),   # node b
    ),
    min_size=1,
    max_size=60,
)


@settings(**_SETTINGS)
@given(edges=_edges)
def test_blocked_union_find_matches_pure_model(spark, edges):
    """components_within_blocks equals a pure-python union-find over
    the same block-local edges — for any random multigraph, including
    self-loops, duplicate edges, and chains. Node ids are namespaced
    per block (node + block*1000) so the block-local contract holds."""
    from map_reduce_rpc_spark.operators.graph import components_within_blocks

    rows = [(blk, a + blk * 1000, b + blk * 1000) for blk, a, b in edges]

    # pure model: min-id component per node, union over all edges
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for _, a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {(n, find(n)) for n in parent}

    df = spark.createDataFrame(rows, "blk long, id_a long, id_b long")
    got = {
        (r["node"], r["component"])
        for r in components_within_blocks(df, "blk").collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# SQ8 quantizer properties — pure-python replica of the exact Spark
# expression (global scale s = max|x| over unit vectors,
# floor(x * 127 / s + 0.5), clamp to ±127), attacked with generated
# vectors. No Spark job per example: the replica IS the spec;
# test_similarity.py separately pins that the Spark output equals
# itself run-to-run and hash-matches the DuckDB oracle, so replica
# properties transfer. THIS SUITE EARNED ITS PLACE: the dot-tracking
# property below is what exposed the original per-dimension-scale
# design as a metric distortion (raw integer dots under per-dim scales
# reweight dimension d by 1/s_d^2 — recall@10 0.78 vs 1.0 after the
# global-scale fix).
# ---------------------------------------------------------------------------

_vectors = st.lists(
    st.lists(
        st.floats(
            min_value=-1e3,
            max_value=1e3,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=4,
        max_size=4,
    ),
    min_size=2,
    max_size=12,
)


def _sq8_replica(vecs):
    import math

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return v if n == 0 else [x / n for x in v]

    normed = [unit(v) for v in vecs]
    s = max((abs(x) for v in normed for x in v), default=0.0)
    codes = []
    for v in normed:
        if s == 0.0:
            codes.append([0] * len(v))
        else:
            codes.append(
                [
                    max(-127, min(127, math.floor(x * 127.0 / s + 0.5)))
                    for x in v
                ]
            )
    return normed, s, codes


@given(_vectors)
@settings(max_examples=100, deadline=None)
def test_sq8_codes_bounded_and_error_within_half_step(vecs):
    """Invariants of symmetric round-to-nearest int8 quantization under
    one global scale: every code lies in [-127, 127]; for s > 0 the
    reconstruction error |x - c*s/127| is at most half a quantization
    step (s/254) plus float slack; an all-zero corpus encodes to 0,
    never NaN."""
    normed, s, codes = _sq8_replica(vecs)
    for v, row in zip(normed, codes):
        assert len(row) == len(v)
        for x, c in zip(v, row):
            assert -127 <= c <= 127 and c == int(c)
            if s == 0.0:
                assert c == 0
            else:
                err = abs(x - c * s / 127.0)
                assert err <= s / 254.0 * (1 + 1e-9) + 1e-12, (x, c, s)


@given(_vectors)
@settings(max_examples=100, deadline=None)
def test_sq8_quantized_dot_tracks_cosine(vecs):
    """Under the global scale, (s/127)^2 * int_dot approximates the
    true unit-vector dot within the worst-case quantization bound —
    the property that makes raw integer dots a valid RANKING score.
    (This exact check is what failed under per-dimension scales.)"""
    normed, s, codes = _sq8_replica(vecs)
    if s == 0.0:
        return
    for (va, ca) in zip(normed, codes):
        for (vb, cb) in zip(normed, codes):
            true = sum(x * y for x, y in zip(va, vb))
            approx = sum(x * y for x, y in zip(ca, cb)) * (s / 127.0) ** 2
            # |ab - a'b'| <= sum(|a_d||b_d - b'_d| + |b'_d||a_d - a'_d|)
            # with per-element reconstruction error <= s/254
            bound = sum(
                abs(va[d]) * s / 254.0 + (abs(vb[d]) + s / 254.0) * s / 254.0
                for d in range(len(va))
            )
            assert abs(true - approx) <= bound * (1 + 1e-9) + 1e-9


_changes = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),      # key
        st.sampled_from(["A", "B", "C"]),           # attr
        st.integers(min_value=0, max_value=20),     # ts (day offset)
    ),
    min_size=1,
    max_size=25,
)


@settings(**_SETTINGS)
@given(changes=_changes, split=st.integers(min_value=0, max_value=21))
def test_scd2_incremental_matches_pure_model(spark, tmp_path_factory, changes, split):
    """scd2_collapse AND the two-batch incremental merge must both
    reproduce a pure-python SCD2 fold over any change log (duplicate
    timestamps allowed — seq breaks ties), for any batch split point
    consistent with the non-decreasing-ts contract."""
    import datetime as dt

    from map_reduce_rpc_spark.operators.scd import scd2_collapse, scd2_merge_batch

    rows = [
        (k, a, dt.datetime(2000, 1, 1) + dt.timedelta(days=t), i)
        for i, (k, a, t) in enumerate(changes)
    ]

    # pure-python reference: per key, order by (ts, seq), drop no-ops,
    # close each run at the next run's start
    want = []
    for k in sorted({r[0] for r in rows}):
        seq = sorted((r for r in rows if r[0] == k), key=lambda r: (r[2], r[3]))
        runs = [r for i, r in enumerate(seq) if i == 0 or seq[i - 1][1] != r[1]]
        for i, (kk, a, ts, s) in enumerate(runs):
            to = runs[i + 1][2] if i + 1 < len(runs) else None
            want.append((kk, a, ts, s, to, to is None))
    want.sort()

    schema = "k bigint, attr string, ts timestamp, seq bigint"
    kw = dict(key="k", attr="attr", ts="ts", seq="seq")
    one_shot = sorted(
        map(tuple, scd2_collapse(spark.createDataFrame(rows, schema), **kw).collect())
    )
    assert one_shot == want

    cut = dt.datetime(2000, 1, 1) + dt.timedelta(days=split)
    b1 = [r for r in rows if r[2] < cut]
    b2 = [r for r in rows if r[2] >= cut]
    path = str(tmp_path_factory.mktemp("scd2prop") / "hist")
    for b in (b1, b2):
        if b:
            scd2_merge_batch(spark, path, spark.createDataFrame(b, schema), **kw)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select("k", "attr", "effective_from", "effective_seq",
                    "effective_to", "is_current")
            .collect(),
        )
    )
    assert got == want


_skewed_fact = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),  # key (small domain -> hot)
        st.integers(min_value=0, max_value=10**6),  # payload
    ),
    min_size=1,
    max_size=80,
)


@settings(**_SETTINGS)
@given(fact=_skewed_fact, threshold=st.integers(min_value=1, max_value=30))
def test_split_hot_key_join_equals_plain_join_model(spark, fact, threshold):
    """For ANY fact multiset and ANY hot threshold, the hot/cold routed
    join is multiset-equal to the plain inner join — including keys
    exactly at the threshold, keys missing from the dim, and a dim key
    with no fact rows."""
    from map_reduce_rpc_spark.operators.scale import split_hot_key_join

    fdf = spark.createDataFrame(fact, "k: long, payload: long")
    dim_keys = sorted({k for k, _ in fact})[:-1] + [999]  # drop one, add orphan
    ddf = spark.createDataFrame([(k, k * 7) for k in dim_keys], "k: long, attr: long")
    plain = sorted(
        (r.k, r.payload, r.attr) for r in fdf.join(ddf, "k").collect()
    )
    routed = sorted(
        (r.k, r.payload, r.attr)
        for r in split_hot_key_join(fdf, ddf, "k", threshold).collect()
    )
    assert routed == plain


_graph_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=0,
    max_size=40,
)


@settings(**_SETTINGS)
@given(raw=_graph_edges)
def test_triangle_join_shape_matches_brute_force(spark, raw):
    """The id-oriented wedge+closing-edge join counts exactly the
    number of vertex triangles a brute-force itertools scan finds —
    self-loops and duplicate/mirror edges must not inflate it."""
    import itertools

    from pyspark.sql import functions as F

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    nodes = sorted({n for e in edges for n in e})
    eset = set(edges)
    brute = sum(
        1
        for x, y, z in itertools.combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    if not edges:
        return
    edf = spark.createDataFrame(edges, "u: long, v: long")
    e1, e2, e3 = edf.alias("e1"), edf.alias("e2"), edf.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("x"), F.col("e2.v").alias("z")
    )
    n = wedges.join(
        e3, (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v")), "semi"
    ).count()
    assert n == brute
