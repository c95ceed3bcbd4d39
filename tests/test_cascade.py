"""Cascade smoke tests (SURVEY §5.4): deterministic stub scorers on
the sf0.001 embeddings table; assert the k-chain, history exclusion,
and determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.cascade import CascadeConfig, recommend
from streaming_recommendation_spark.sources.testdata import load_table

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
    doesn't contain it surfaces that item first when no intermediate
    stage cuts it (cosine(v, v) = 1 beats every other candidate at
    recall and rerank)."""
    from streaming_recommendation_spark.functions.vectors import cosine_similarity

    users, items, history = cascade_inputs
    # user 5's vector equals item 5's vector; history = {15,16,17}
    cfg = CascadeConfig(k_recall=500, k_rank=500, k_rerank=500, k_final=1)
    out = recommend(
        users,
        items,
        history,
        cfg,
        recall_score=cosine_similarity("user_vec", "item_vec"),
    ).where(F.col("user_id") == 5)
    top = out.where(F.col("rank") == 1).collect()[0]
    assert top.item_id == 5


def test_custom_scorer_column(cascade_inputs):
    """Pluggable scorer: rerank by item_id descending overrides the
    embedding stub."""
    users, items, history = cascade_inputs
    out = recommend(
        users,
        items,
        history,
        CascadeConfig(k_final=3),
        rerank_score=F.col("item_id").cast("double"),
    )
    for r in out.where(F.col("rank") == 1).collect():
        # rank-1 item must be the max item_id among that user's shortlist
        assert r.item_id > 400  # embeddings table has 500 ids; shortlist top is high


def test_pandas_udf_scorer_matches_jvm_stub(cascade_inputs):
    """The Arrow-batched dot-product scorer must produce the same
    ranking as the JVM-side zip_with/aggregate stub."""
    from streaming_recommendation_spark.cascade.scorers import dot_product_scorer

    users, items, history = cascade_inputs
    cfg = CascadeConfig(k_recall=40, k_rank=20, k_rerank=10, k_final=5)
    jvm = recommend(users, items, history, cfg)
    udf_scorer = dot_product_scorer()
    arrow = recommend(
        users, items, history, cfg,
        recall_score=udf_scorer(F.col("user_vec"), F.col("item_vec")),
    )
    assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, arrow.collect()))


def test_torch_scorer_import_gate(cascade_inputs):
    from streaming_recommendation_spark.cascade.scorers import torch_module_scorer

    users, items, history = cascade_inputs
    try:
        import torch  # noqa: F401
        import pytest as _pytest

        _pytest.skip("torch unexpectedly present")
    except ImportError:
        pass
    import pytest as _pytest

    scorer = torch_module_scorer("/nonexistent/model.pt")
    with _pytest.raises(Exception) as ei:
        recommend(
            users, items, history, CascadeConfig(),
            rerank_score=scorer(F.col("user_vec"), F.col("item_vec")),
        ).collect()
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
    sigmoid, reference eval_online/main/ranknet.py:34-58) runs through
    the SAME Arrow-batched pandas-UDF path torch_module_scorer uses,
    end-to-end inside the cascade's rerank stage."""
    import numpy as np

    from streaming_recommendation_spark.cascade.scorers import (
        numpy_mlp_scorer,
        seeded_mlp_weights,
    )

    users, items, history = cascade_inputs
    weights = seeded_mlp_weights(in_dim=128, hidden_dims=(16, 8), seed=7)
    scorer = numpy_mlp_scorer(weights)
    cfg = CascadeConfig(k_recall=40, k_rank=20, k_rerank=10, k_final=5)
    out = recommend(
        users, items, history, cfg,
        rerank_score=scorer(F.col("user_vec"), F.col("item_vec")),
    )
    rows = out.collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.rank, r.item_id))
    assert len(per_user) == 10
    for recs in per_user.values():
        assert sorted(r[0] for r in recs) == [1, 2, 3, 4, 5]
    # deterministic across runs (seeded weights, Arrow batching)
    again = recommend(
        users, items, history, cfg,
        rerank_score=scorer(F.col("user_vec"), F.col("item_vec")),
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # the MLP genuinely reorders vs the cosine stub on the same inputs
    stub = recommend(users, items, history, cfg).collect()
    assert sorted(map(tuple, stub)) != sorted(map(tuple, rows))

    # UDF-level parity with a plain-numpy forward pass
    import pandas as pd

    rng = np.random.default_rng(3)
    a = pd.Series([rng.normal(size=64) for _ in range(32)])
    b = pd.Series([rng.normal(size=64) for _ in range(32)])
    x = np.concatenate([np.stack(a.to_numpy()), np.stack(b.to_numpy())], axis=1)
    for i, (w, bias) in enumerate(weights):
        x = x @ w + bias
        if i < len(weights) - 1:
            x = np.maximum(x, 0.0)
    expect = 1.0 / (1.0 + np.exp(-x[:, 0]))
    got = scorer.func(a, b)
    assert np.allclose(got.to_numpy(), expect)


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
    """The numpy cascade kernel (the default when no scorer Column is
    given) is bit-identical to the crossJoin+window JVM reference —
    same floats, same (score desc, item_id asc) tie-breaks, same final
    lists — and its recall stage selects the exact same (user, item)
    candidate set: with no history and every later cut wider than
    k_recall, the output IS the recall set."""
    from streaming_recommendation_spark.cascade.recommend import (
        _default_recall_score,
        _fused_brute_cascade,
    )
    from streaming_recommendation_spark.operators.topk import top_k_per_group

    users, items, history = cascade_inputs
    cfg = CascadeConfig(k_recall=50, k_rank=25, k_rerank=12, k_final=5)
    vec = recommend(users, items, history, cfg, recall_strategy="brute")
    jvm = recommend(users, items, history, cfg, recall_strategy="brute_jvm")
    assert _rows(vec) == _rows(jvm)

    wide = CascadeConfig(k_recall=37, k_rank=500, k_rerank=500, k_final=500)
    got = _fused_brute_cascade(users, items, history.where(F.lit(False)), wide)
    got = sorted(map(tuple, got.select("user_id", "item_id").collect()))
    scored = users.crossJoin(F.broadcast(items)).select(
        "user_id", "item_id", _default_recall_score().alias("recall_score")
    )
    ref = sorted(
        map(
            tuple,
            top_k_per_group(
                scored,
                37,
                ["user_id"],
                F.col("recall_score").desc(),
                F.col("item_id").asc(),
            )
            .select("user_id", "item_id")
            .collect(),
        )
    )
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
    """Fused kernel vs recall_strategy="brute_jvm": identical
    (user_id, item_id, rank) rows, including a user with no known
    history item, a user with duplicate history items, and items whose
    scores tie exactly."""
    users, _items, _history = cascade_inputs
    items = tied_items
    fused = _rows(recommend(users, items, edge_history, cfg))
    jvm = _rows(recommend(users, items, edge_history, cfg, recall_strategy="brute_jvm"))
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
    jvm = _rows(recommend(ids, items, edge_history, cfg, recall_strategy="brute_jvm"))
    assert fused == jvm
    assert {r[0] for r in fused} == set(range(1, 10))
