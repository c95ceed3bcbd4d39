"""Cascade smoke tests (SURVEY §5.4): deterministic stub scorers on
the sf0.001 embeddings table; assert the k-chain, history exclusion,
and determinism."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.cascade import CascadeConfig, recommend
from streaming_recommendation_spark.cascade.recommend import cascade_kernel, item_side
from streaming_recommendation_spark.sources.testdata import load_table

from .cascade_reference import dense_recall, reference_recommend
from .conftest import SF_DIR


@pytest.fixture(scope="module")
def cascade_inputs(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    items = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec")
    )
    users = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("user_id"), F.col("embedding").alias("user_vec")
    )
    # user u has seen items u*3, u*3+1, u*3+2 (deterministic synthetic history)
    history = (
        users.select("user_id")
        .select("user_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i"))
        .select("user_id", (F.col("user_id") * 3 + F.col("i")).alias("item_id"))
    )
    return users, items, history


def test_k_chain_and_exclusion(cascade_inputs):
    users, items, history = cascade_inputs
    cfg = CascadeConfig(k_recall=50, k_rank=25, k_rerank=12, k_final=5)
    out = recommend(users, items, history, cfg)
    rows = out.collect()

    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.rank, r.item_id))
    assert len(per_user) == 10
    for uid, recs in per_user.items():
        assert len(recs) == 5
        assert sorted(r[0] for r in recs) == [1, 2, 3, 4, 5]
    # J6: no recommended item is in the user's history
    seen = {(r.user_id, r.item_id) for r in history.collect()}
    assert not seen & {(r.user_id, r.item_id) for r in rows}


def test_deterministic(cascade_inputs):
    users, items, history = cascade_inputs
    cfg = CascadeConfig(k_recall=30, k_rank=15, k_rerank=8, k_final=3)
    a = sorted(map(tuple, recommend(users, items, history, cfg).collect()))
    b = sorted(map(tuple, recommend(users, items, history, cfg).collect()))
    assert a == b


def test_self_similarity_recall(cascade_inputs):
    """A user whose embedding IS an item's embedding and whose history
    doesn't contain it surfaces that item first when no stage cuts it
    (every cut keeps all 500 items; cosine(v, v) = 1 wins the
    rerank)."""
    users, items, history = cascade_inputs
    # user 5's vector equals item 5's vector; history = {15,16,17}
    cfg = CascadeConfig(k_recall=500, k_rank=500, k_rerank=500, k_final=1)
    out = recommend(users, items, history, cfg).where(F.col("user_id") == 5)
    top = out.where(F.col("rank") == 1).collect()[0]
    assert top.item_id == 5


def test_custom_scorer_column(cascade_inputs):
    """Pluggable scorers: numpy callables in the rank and rerank slots
    give exactly what the reference plan gives with the same scores as
    Columns. The scores are asymmetric, so the pair order is pinned
    too: rank sees (candidate item, history mean), rerank (user,
    item)."""
    users, items, history = cascade_inputs
    cfg = CascadeConfig(k_recall=60, k_rank=20, k_rerank=10, k_final=5)
    got = _rows(
        recommend(
            users,
            items,
            history,
            cfg,
            rank_score=lambda item, hist: item[:, 0] - hist[:, 1],
            rerank_score=lambda user, item: user[:, 2] * item[:, 3],
        )
    )
    ref = _rows(
        reference_recommend(
            users,
            items,
            history,
            cfg,
            rank_score=F.col("item_vec")[0] - F.col("history_vec")[1],
            rerank_score=F.col("user_vec")[2] * F.col("item_vec")[3],
        )
    )
    assert got == ref
    assert len(got) == 10 * 5
    assert got != _rows(recommend(users, items, history, cfg))


def test_torch_scorer_import_gate(cascade_inputs):
    """Without torch the scorer still builds; it fails when called —
    on the executor, inside the cascade's Arrow pass — with guidance."""
    from streaming_recommendation_spark.cascade.scorers import torch_module_scorer

    try:
        import torch  # noqa: F401

        pytest.skip("torch unexpectedly present")
    except ImportError:
        pass

    users, items, history = cascade_inputs
    scorer = torch_module_scorer("/nonexistent/model.pt")
    with pytest.raises(Exception) as ei:
        recommend(users, items, history, CascadeConfig(), rerank_score=scorer).collect()
    assert "PyTorch" in str(ei.value) or "NotImplementedError" in str(ei.value)


def test_lsh_recall_strategy(cascade_inputs):
    """The LSH recall path must produce the same output contract and
    respect history exclusion; quality is covered by the LSH recall
    tests in test_similarity.py."""
    users, items, history = cascade_inputs
    out = recommend(
        users, items, history,
        CascadeConfig(k_recall=60, k_rank=30, k_rerank=15, k_final=5, lsh_dim=64),
        recall_strategy="lsh",
    )
    rows = out.collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.rank)
    assert len(per_user) == 10
    for ranks in per_user.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    seen = {(r.user_id, r.item_id) for r in history.collect()}
    assert not seen & {(r.user_id, r.item_id) for r in rows}


def test_numpy_mlp_scorer_end_to_end(cascade_inputs):
    """The real-model slot proven without torch: a seeded numpy MLP
    (RankNet forward parity — concat(user, item) -> ReLU MLP ->
    sigmoid, reference eval_online/main/ranknet.py:34-58) runs in the
    cascade's rerank slot, the slot torch_module_scorer fills."""
    from streaming_recommendation_spark.cascade.scorers import (
        numpy_mlp_scorer,
        seeded_mlp_weights,
    )

    users, items, history = cascade_inputs
    weights = seeded_mlp_weights(in_dim=128, hidden_dims=(16, 8), seed=7)
    scorer = numpy_mlp_scorer(weights)
    cfg = CascadeConfig(k_recall=40, k_rank=20, k_rerank=10, k_final=5)
    rows = recommend(users, items, history, cfg, rerank_score=scorer).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.rank, r.item_id))
    assert len(per_user) == 10
    for recs in per_user.values():
        assert sorted(r[0] for r in recs) == [1, 2, 3, 4, 5]
    # deterministic across runs (seeded weights)
    again = recommend(users, items, history, cfg, rerank_score=scorer).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # the MLP genuinely reorders vs the cosine stub on the same inputs
    stub = recommend(users, items, history, cfg).collect()
    assert sorted(map(tuple, stub)) != sorted(map(tuple, rows))

    # scorer-level parity with a plain-numpy forward pass
    rng = np.random.default_rng(3)
    a = rng.normal(size=(32, 64))
    b = rng.normal(size=(32, 64))
    x = np.concatenate([a, b], axis=1)
    for i, (w, bias) in enumerate(weights):
        x = x @ w + bias
        if i < len(weights) - 1:
            x = np.maximum(x, 0.0)
    expect = 1.0 / (1.0 + np.exp(-x[:, 0]))
    assert np.allclose(scorer(a, b), expect)


def test_category_capped_topk_greedy_equivalence(spark):
    """The closed form equals the greedy walk replayed by hand: list
    [10(c0) 11(c0) 12(c0) 13(c1) 14(c0) 15(c2)], cap 2, k 4 ->
    greedy takes 10, 11, skips 12 (c0 full), takes 13, skips 14,
    takes 15 -> slate [10, 11, 13, 15] re-ranked 1..4."""
    from pyspark.sql import functions as F

    from streaming_recommendation_spark.operators.topk import (
        category_capped_topk,
    )

    recs = spark.createDataFrame(
        [(1, 10 + i, i + 1) for i in range(6)],
        "user_id bigint, item_id bigint, rank int",
    )
    cats = spark.createDataFrame(
        [(10, 0), (11, 0), (12, 0), (13, 1), (14, 0), (15, 2)],
        "item_id bigint, category int",
    )
    got = sorted(
        (r.rank, r.item_id, r.category, r.orig_rank)
        for r in category_capped_topk(
            recs, cats, k=4, max_per_cat=2
        ).collect()
    )
    assert got == [(1, 10, 0, 1), (2, 11, 0, 2), (3, 13, 1, 4), (4, 15, 2, 6)]


def _rows(df):
    return sorted(map(tuple, df.select("user_id", "item_id", "rank").collect()))


def test_vectorized_recall_matches_jvm(cascade_inputs):
    """The numpy cascade kernel is bit-identical to the crossJoin +
    window reference — same floats, same (score desc, item_id asc)
    tie-breaks, same final lists — and its recall stage selects the
    exact same (user, item) candidate set: with no history and every
    later cut wider than k_recall, the output IS the recall set."""
    from streaming_recommendation_spark.cascade.recommend import _cogroup_cascade

    users, items, history = cascade_inputs
    cfg = CascadeConfig(k_recall=50, k_rank=25, k_rerank=12, k_final=5)
    vec = recommend(users, items, history, cfg)
    assert _rows(vec) == _rows(reference_recommend(users, items, history, cfg))

    wide = CascadeConfig(k_recall=37, k_rank=500, k_rerank=500, k_final=500)
    got = _cogroup_cascade(users, items, history.where(F.lit(False)), wide)
    got = sorted(map(tuple, got.select("user_id", "item_id").collect()))
    ref = sorted(map(tuple, dense_recall(users, items, 37).collect()))
    assert len(got) == 10 * 37
    assert got == ref


@pytest.fixture(scope="module")
def edge_history(spark, cascade_inputs):
    """cascade_inputs' history with two edge users: user 0 has only an
    unknown item (no known history -> zero history vector, or no
    recommendations without a user_vec) and user 1 has duplicate
    history items (each occurrence counts in the mean)."""
    _users, _items, history = cascade_inputs
    extra = spark.createDataFrame(
        [(0, 10_000), (1, 3), (1, 3), (1, 7), (1, 3)],
        "user_id bigint, item_id bigint",
    )
    return history.where(F.col("user_id") > 1).unionByName(extra).coalesce(1)


@pytest.fixture(scope="module")
def tied_items(cascade_inputs):
    """The items plus copies of items 0..59 under ids 1000..1059,
    listed first: every copy ties its original at every stage, so the
    (score desc, item_id asc) tie-break decides which one survives."""
    _users, items, _history = cascade_inputs
    copies = items.where(F.col("item_id") < 60).select(
        (F.col("item_id") + 1000).alias("item_id"), "item_vec"
    )
    return copies.unionByName(items)


@pytest.mark.parametrize(
    "cfg",
    [
        CascadeConfig(),
        CascadeConfig(k_recall=40, k_rank=8, k_rerank=15, k_final=5),
        CascadeConfig(k_recall=700, k_rank=300, k_rerank=40, k_final=12),
    ],
    ids=["default_k", "k_rank_lt_k_rerank", "k_recall_ge_items"],
)
def test_fused_cascade_matches_jvm(cascade_inputs, edge_history, tied_items, cfg):
    """Fused kernel vs the crossJoin + window reference: identical
    (user_id, item_id, rank) rows, including a user with no known
    history item, a user with duplicate history items, and items whose
    scores tie exactly."""
    users, _items, _history = cascade_inputs
    items = tied_items
    fused = _rows(recommend(users, items, edge_history, cfg))
    jvm = _rows(reference_recommend(users, items, edge_history, cfg))
    assert fused == jvm
    assert {r[0] for r in fused} == set(range(10))
    assert all(r[2] <= cfg.k_final for r in fused)


@pytest.mark.parametrize(
    "cfg",
    [CascadeConfig(), CascadeConfig(k_recall=40, k_rank=8, k_rerank=15, k_final=5)],
    ids=["default_k", "k_rank_lt_k_rerank"],
)
def test_fused_cascade_matches_jvm_without_user_vec(cascade_inputs, edge_history, cfg):
    """A users frame without user_vec: the user vector is the history
    mean-pool on both paths, and user 0 (no known history item) gets
    no recommendations."""
    users, items, _history = cascade_inputs
    ids = users.select("user_id")
    fused = _rows(recommend(ids, items, edge_history, cfg))
    jvm = _rows(reference_recommend(ids, items, edge_history, cfg))
    assert fused == jvm
    assert {r[0] for r in fused} == set(range(1, 10))


@pytest.mark.parametrize(
    "cfg",
    [
        CascadeConfig(lsh_dim=64),
        CascadeConfig(k_recall=40, k_rank=8, k_rerank=15, k_final=5, lsh_dim=64),
    ],
    ids=["default_k", "k_rank_lt_k_rerank"],
)
def test_lsh_cascade_matches_reference(cascade_inputs, edge_history, tied_items, cfg):
    """recall_strategy="lsh" feeds lsh_knn's candidates to the kernel:
    identical rows to the reference plan fed the same recall, with the
    edge-history users and exactly tied items."""
    from streaming_recommendation_spark.operators.similarity import lsh_knn

    users, _items, _history = cascade_inputs
    items = tied_items
    recalled = lsh_knn(
        items,
        users.select("user_id", F.col("user_vec").alias("item_vec")),
        k=cfg.k_recall,
        dim=64,
        id_col="item_id",
        vec_col="item_vec",
        query_id_col="user_id",
    ).select("user_id", F.col("neighbor_id").alias("item_id"))
    got = _rows(recommend(users, items, edge_history, cfg, recall_strategy="lsh"))
    ref = _rows(reference_recommend(users, items, edge_history, cfg, recalled=recalled))
    assert got == ref
    assert {r[0] for r in got} == set(range(10))


def test_recall_strategy_is_checked(cascade_inputs):
    """An unknown recall strategy (a typo included) raises instead of
    falling back to another recall, and LSH without user vectors
    raises: the candidates are the users' own LSH neighbours."""
    users, items, history = cascade_inputs
    for strategy in ("lhs", "brute_jvm", ""):
        with pytest.raises(ValueError, match="recall_strategy"):
            recommend(users, items, history, recall_strategy=strategy)
    with pytest.raises(ValueError, match="user_vec"):
        recommend(
            users.select("user_id"),
            items,
            history,
            CascadeConfig(lsh_dim=64),
            recall_strategy="lsh",
        )


def _kernel_inputs():
    """Three users (positions 0-2) over 40 random float32 items with
    ids 100..139; user 0 has seen 100 and 101, user 1 105, user 2
    120."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 6)).astype(np.float32)
    items = item_side(pd.DataFrame({"item_id": np.arange(100, 140), "item_vec": list(vecs)}))
    user_vecs = rng.normal(size=(3, 6)).astype(np.float32)
    return (
        np.array([7, 8, 9]),
        user_vecs,
        np.array([0, 0, 1, 2]),
        np.array([100, 101, 105, 120]),
        items,
        vecs,
    )


def test_kernel_candidates_input():
    """cascade_kernel with given candidates (no Spark): the dense
    top-k_recall set, given in any order, reproduces the dense path;
    short lists keep what survives exclusion, in rerank order; a user
    with no candidate, or only unknown ids, gets nothing."""
    user_ids, user_vecs, hist_users, hist_items, items, vecs = _kernel_inputs()
    cfg = CascadeConfig(k_recall=12, k_rank=6, k_rerank=8, k_final=4)
    dense = cascade_kernel(user_ids, user_vecs, hist_users, hist_items, items, cfg)
    assert len(dense[0]) == 3 * 4

    # the dense recall set: no history and no cut after recall
    wide = CascadeConfig(k_recall=12, k_rank=99, k_rerank=99, k_final=99)
    pos, recalled, _ = cascade_kernel(
        user_ids, user_vecs, hist_users[:0], hist_items[:0], items, wide
    )
    assert len(recalled) == 3 * 12
    given = cascade_kernel(
        user_ids, user_vecs, hist_users, hist_items, items, cfg, (pos[::-1], recalled[::-1])
    )
    for a, b in zip(given, dense):
        np.testing.assert_array_equal(a, b)

    # user 0: one seen and one fresh candidate; user 1: three fresh
    # ones; user 2: only an unknown id
    cand = (np.array([0, 1, 0, 1, 1, 2]), np.array([101, 110, 130, 111, 112, 999]))
    u, item_id, rank = cascade_kernel(
        user_ids, user_vecs, hist_users, hist_items, items, cfg, cand
    )
    v = vecs[[10, 11, 12]].astype(np.float64)
    cos = v @ user_vecs[1] / (np.linalg.norm(v, axis=1) * np.linalg.norm(user_vecs[1]))
    assert u.tolist() == [0, 1, 1, 1]
    assert item_id.tolist() == [130, *(110 + np.argsort(-cos)).tolist()]
    assert rank.tolist() == [1, 1, 2, 3]

    # nobody has a candidate
    none = cascade_kernel(
        user_ids, user_vecs, hist_users, hist_items, items, cfg, (np.array([], np.intp), np.array([], np.int64))
    )
    assert all(len(a) == 0 for a in none)
