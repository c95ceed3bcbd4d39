"""Feature engineering (operators/features.py) + embedding
propagation (operators/graph.py::propagate_embeddings): hashing-trick
invariants, exact-rational target encoding, and hand-checkable
propagation on a path graph."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.features import (
    encode_from_counts,
    feature_hash,
    target_encode,
)
from streaming_recommendation_spark.operators.graph import propagate_embeddings


def test_feature_hash_counts_and_sign(spark):
    df = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "ALPHA   alpha")],
        "doc_id bigint, text string",
    )
    rows = feature_hash(df, n_features=256).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.slot] = r.value
    # normalization: case-folded + whitespace-collapsed, so doc 2's
    # "ALPHA   alpha" hashes identically to two "alpha" tokens
    alpha_slot, alpha_val = next(
        (s, v) for s, v in by_doc[1].items() if abs(v) == 2
    )
    assert by_doc[2] == {alpha_slot: alpha_val}
    # signs are +-1 per token: |value| == token count for unique slots
    assert sorted(abs(v) for v in by_doc[1].values()) == [1, 2]
    assert all(r.slot in range(256) for r in rows)


def test_feature_hash_drops_exact_zero_cancellations(spark):
    """Force a cancellation: two tokens with opposite signs in the
    same slot (found by probing the real hash) must NOT emit a row."""
    from streaming_recommendation_spark.operators.features import _word_hash

    # probe a small token universe for a colliding opposite-sign pair
    toks = [f"t{i}" for i in range(200)]
    probe = {
        r.w: (r.h % 16, (r.h // 16) % 2)
        for r in spark.createDataFrame([(t,) for t in toks], "w string")
        .select("w", _word_hash(F.col("w")).alias("h"))
        .collect()
    }
    pair = None
    for a in toks:
        for b in toks:
            if probe[a][0] == probe[b][0] and probe[a][1] != probe[b][1]:
                pair = (a, b)
                break
        if pair:
            break
    assert pair, "no opposite-sign collision in probe universe"
    df = spark.createDataFrame(
        [(1, f"{pair[0]} {pair[1]}")], "doc_id bigint, text string"
    )
    got = feature_hash(df, n_features=16).collect()
    assert probe[pair[0]][0] not in {r.slot for r in got}


def test_target_encode_exact_rational(spark):
    # categories: a has 3 rows 2 pos, b has 1 row 0 pos; m = 2
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 0), ("b", 0)], "cat string, y int"
    )
    got = {
        r.cat: (r.cnt, r.pos, r.enc)
        for r in target_encode(df, "cat", F.col("y") == 1, smoothing=2).collect()
    }
    # g_cnt=4, g_pos=2; enc_a = (2*4 + 2*2) / (4*(3+2)) = 12/20
    assert got["a"] == (3, 2, 12 / 20)
    # enc_b = (0*4 + 2*2) / (4*(1+2)) = 4/12 (shrunk toward 0.5)
    assert got["b"] == (1, 0, 4 / 12)


def test_target_encode_empty_category_never_divides_by_zero(spark):
    """m=0 degenerates to the raw rate; categories always have cnt>=1
    so the denominator is never zero even unsmoothed."""
    df = spark.createDataFrame([("a", 1)], "cat string, y int")
    got = target_encode(df, "cat", F.col("y") == 1, smoothing=0).collect()
    assert got[0].enc == 1.0


def test_target_encode_products_survive_beyond_int64(spark):
    """ADVICE r7: at corpus scale pos*g_cnt exceeds 2^63; the decimal
    path must keep the product exact (int64 would silently wrap with
    ANSI off) and still match the one-IEEE-division contract — the
    expected value is Python's arbitrary-precision integers converted
    to nearest double, exactly what decimal(38,0) -> double does."""
    rows = [("a", 3 * 10**18, 2 * 10**18), ("b", 4 * 10**18, 10**18)]
    counts = spark.createDataFrame(rows, "cat string, cnt long, pos long")
    m = 100
    g_cnt = sum(r[1] for r in rows)
    g_pos = sum(r[2] for r in rows)
    got = {
        r.cat: r.enc
        for r in encode_from_counts(counts, "cat", smoothing=m).collect()
    }
    for cat, cnt, pos in rows:
        num = pos * g_cnt + m * g_pos  # ~1.4e37: far past int64
        den = g_cnt * (cnt + m)
        assert got[cat] == float(num) / float(den)


def _pg(spark, edges, feats):
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    f = spark.createDataFrame(feats, "node bigint, dim bigint, val bigint")
    return {
        (r.node, r.dim): r.emb
        for r in propagate_embeddings(e, f, rounds=2).collect()
    }


def test_propagation_path_graph_hand_check(spark):
    """Path 1-2-3, one dim, e0 = (30, 0, 90).
    Layer 1: e1(1)=e0(2)=0; e1(2)=(30+90)div2=60; e1(3)=0.
    Layer 2: e2(1)=e1(2)=60; e2(2)=(0+0)div2=0; e2(3)=60.
    Combined: node1 (30+0+60)div3=30; node2 (0+60+0)div3=20;
    node3 (90+0+60)div3=50."""
    got = _pg(
        spark,
        [(1, 2), (2, 3)],
        [(1, 0, 30), (2, 0, 0), (3, 0, 90)],
    )
    assert got == {(1, 0): 30, (2, 0): 20, (3, 0): 50}


def test_propagation_isolated_node_keeps_self_embedding(spark):
    """Node 9 has features but no edges: every layer contributes 0,
    so the combined embedding is e0 div 3 (LightGCN layer mean)."""
    got = _pg(spark, [(1, 2)], [(1, 0, 9), (2, 0, 3), (9, 0, 12)])
    assert got[(9, 0)] == 4  # 12 div 3
    # the connected pair swaps: e1(1)=3, e2(1)=9 -> (9+3+9)div3=7
    assert got[(1, 0)] == 7


def test_propagation_floors_negative_features(spark):
    """ADVICE r7: division must FLOOR (DuckDB // semantics), not
    truncate toward zero — centered (negative) features diverge under
    Spark's `div`. Path 1-2-3, e0 = (-3, 0, 0):
    layer 1: e1(2) = (-3+0) fdiv 2 = -2 (trunc would say -1);
    layer 2: e2(1) = e2(3) = -2, e2(2) = 0;
    combined: node1 (-3+0-2) fdiv 3 = -2, node2 (0-2+0) fdiv 3 = -1,
    node3 (0+0-2) fdiv 3 = -1 (trunc: -1, 0, 0 — all differ)."""
    got = _pg(
        spark,
        [(1, 2), (2, 3)],
        [(1, 0, -3), (2, 0, 0), (3, 0, 0)],
    )
    assert got == {(1, 0): -2, (2, 0): -1, (3, 0): -1}


def test_propagation_dims_are_independent(spark):
    got = _pg(
        spark,
        [(1, 2)],
        [(1, 0, 6), (1, 1, 600), (2, 0, 0), (2, 1, 0)],
    )
    # per dim: e1(2)=e0(1), e2(2)=e1(1)=e0(2)=0 -> node2 = e0(1) div 3
    assert got[(2, 0)] == 2
    assert got[(2, 1)] == 200


def test_embedding_covariance_hand_check(spark):
    """Two 2-dim rows: quantized q = (scale*x rounds exactly here).
    rows q: (2, 4), (6, 8). n=2.
    S_00=2*2+6*6=40, S_01=2*4+6*8=56, S_11=16+64=80; S_0=8, S_1=12.
    cov00 = 40/2 - 16 = 4; cov01 = 56/2 - 4*6 = 4; cov11 = 80/2 - 36
    = 4."""
    from streaming_recommendation_spark.operators.features import (
        embedding_covariance,
    )

    df = spark.createDataFrame(
        [(1, [2.0, 4.0]), (2, [6.0, 8.0])],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        (r.i, r.j): r.cov
        for r in embedding_covariance(df, "embedding", scale=1).collect()
    }
    assert got == {(0, 0): 4.0, (0, 1): 4.0, (1, 0): 4.0, (1, 1): 4.0}
    # symmetric by construction


def test_session_sequences_split_and_order(spark):
    import datetime as dt

    from streaming_recommendation_spark.operators.history import (
        session_sequences,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows = [
        # user 1: two events 10 min apart (one session), then a 2h gap
        (1, 1, t0, "view"),
        (1, 2, t0 + dt.timedelta(minutes=10), "click"),
        (1, 3, t0 + dt.timedelta(hours=2, minutes=10), "purchase"),
        # user 2: two events at the SAME ts -> event_id breaks the tie
        (2, 5, t0, "b"),
        (2, 4, t0, "a"),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.seq)
        for r in session_sequences(df, gap_seconds=1800).collect()
    }
    assert got == {
        (1, 1): (2, "view|click"),
        (1, 2): (1, "purchase"),
        (2, 1): (2, "a|b"),
    }


def test_session_gap_boundary_exactly_gap_stays_in_session(spark):
    import datetime as dt

    from streaming_recommendation_spark.operators.history import (
        session_sequences,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, "a"),
        (1, 2, t0 + dt.timedelta(seconds=1800), "b"),  # == gap: same
        (1, 3, t0 + dt.timedelta(seconds=3601), "c"),  # > gap: new
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    got = {
        r.session_idx: r.seq
        for r in session_sequences(df, gap_seconds=1800).collect()
    }
    assert got == {1: "a|b", 2: "c"}


def test_random_projection_hand_check(spark):
    """scale=1 keeps q == x; out_dim=2 over a 2-dim vector: y_j =
    q0*s_0j + q1*s_1j with the deterministic sign matrix — recompute
    the signs in the test and check exact equality."""
    from streaming_recommendation_spark.functions.hashing import KNUTH, MOD32
    from streaming_recommendation_spark.operators.features import (
        random_projection,
    )

    sg = {
        (fid // 2, fid % 2): (1 if (fid * KNUTH) % MOD32 % 2 == 0 else -1)
        for fid in range(4)
    }
    df = spark.createDataFrame(
        [(1, [3.0, 5.0])], "vec_id bigint, embedding array<float>"
    )
    got = {
        (r.vec_id, r.j): r.y
        for r in random_projection(df, out_dim=2, scale=1).collect()
    }
    assert got == {
        (1, 0): 3 * sg[(0, 0)] + 5 * sg[(1, 0)],
        (1, 1): 3 * sg[(0, 1)] + 5 * sg[(1, 1)],
    }


def test_random_projection_preserves_linearity(spark):
    """Projection is linear: y(a + b) == y(a) + y(b) exactly (integer
    sums, same sign matrix)."""
    from streaming_recommendation_spark.operators.features import (
        random_projection,
    )

    a = [1.0, 2.0, 3.0, 4.0]
    b = [10.0, 20.0, 30.0, 40.0]
    ab = [x + y for x, y in zip(a, b)]
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, ab)], "vec_id bigint, embedding array<float>"
    )
    got = {
        (r.vec_id, r.j): r.y
        for r in random_projection(df, out_dim=4, scale=1).collect()
    }
    for j in range(4):
        assert got[(3, j)] == got[(1, j)] + got[(2, j)]


def test_quantile_bin_equal_mass_hand_check(spark):
    """Values 1..10 in one group, 2 buckets: cumulative count of value
    v is v, so bucket = ceil(v*2/10) — exactly 1 for v <= 5 and 2
    above; a constant group (mx == mn) collapses to one bucket."""
    from streaming_recommendation_spark.operators.features import (
        quantile_bin,
    )

    rows = [(i, "a", float(i)) for i in range(1, 11)] + [
        (i, "c", 7.0) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "rid long, g string, v double")
    out = {
        (r.g, r.rid): r.bucket
        for r in quantile_bin(df, "v", ["g"], n_buckets=2).collect()
    }
    for i in range(1, 11):
        assert out[("a", i)] == (1 if i <= 5 else 2), (i, out[("a", i)])
    for i in range(3):
        assert out[("c", i)] == 2  # cum == n -> ceil(n*2/n) = 2


def test_quantile_bin_drops_null_values(spark):
    from streaming_recommendation_spark.operators.features import (
        quantile_bin,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None), (3, "a", 2.0)],
        "rid long, g string, v double",
    )
    got = {r.rid for r in quantile_bin(df, "v", ["g"]).collect()}
    assert got == {1, 3}


def test_chunk_hash_embed_matches_feature_hash_and_boundaries(spark):
    """The fused map-side embed must equal the reference composition:
    chunk boundaries identical to curation.chunk_documents (same
    window/stride recipe), and each chunk's dense vector identical to
    operators.features.feature_hash run on that chunk's text alone
    (sparse rows densified). Also pins: trailing ragged chunk, the
    1-chunk short-doc case, and exact-zero sign cancellations staying
    IN the dense vector (dense zero == absent sparse row)."""
    from streaming_recommendation_spark.operators.curation import (
        chunk_documents,
    )
    from streaming_recommendation_spark.operators.features import (
        chunk_hash_embed,
        feature_hash,
    )

    rows = [
        (0, "Alpha beta  gamma delta epsilon"),  # 5 words -> 2+1 ragged
        (1, "x"),  # short doc: 1 chunk
        (2, "a b a b a"),  # repeats
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = chunk_hash_embed(
        df, window=2, stride=2, n_features=8, text_col="text"
    ).collect()
    ch = chunk_documents(df, window=2, stride=2).collect()
    assert {(r.doc_id, r.chunk_idx) for r in out} == {
        (r.doc_id, r.chunk_idx) for r in ch
    }
    # per-chunk vectors == feature_hash over the chunk's own text
    chunk_text = {
        (0, 0): "alpha beta", (0, 1): "gamma delta", (0, 2): "epsilon",
        (1, 0): "x",
        (2, 0): "a b", (2, 1): "a b", (2, 2): "a",
    }
    assert {(r.doc_id, r.chunk_idx) for r in out} == set(chunk_text)
    sub = spark.createDataFrame(
        [(i, t) for i, t in enumerate(chunk_text.values())],
        "doc_id: long, text: string",
    )
    sparse = feature_hash(sub, n_features=8)
    expect = {i: [0] * 8 for i in range(len(chunk_text))}
    for r in sparse.collect():
        expect[r.doc_id][r.slot] = r.value
    for r in out:
        key = list(chunk_text).index((r.doc_id, r.chunk_idx))
        assert list(r.vec) == expect[key], (r.doc_id, r.chunk_idx)
    # identical chunks embed identically
    vecs = {(r.doc_id, r.chunk_idx): list(r.vec) for r in out}
    assert vecs[(2, 0)] == vecs[(2, 1)]


def test_chunk_hash_embed_zero_shuffle_plan(spark):
    """The ingest half of the retrieval pipeline is ONE map-side
    projection: chunking, tokenization, hashing, and dense assembly
    never shuffle and never leave the JVM."""
    from streaming_recommendation_spark.operators.features import (
        chunk_hash_embed,
    )
    from streaming_recommendation_spark.plans import audit
    from streaming_recommendation_spark.sources.testdata import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    a = audit(chunk_hash_embed(docs, window=32, stride=32, n_features=64))
    assert a["n_exchanges"] == 0
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
