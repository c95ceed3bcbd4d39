"""The cascade as a DataFrame plan: crossJoin recall, then one
rank-filtered window per top-k, with the default scorers as Columns.

``cascade.recommend.cascade_kernel`` is bit-identical to this plan
(same float folds, same (score desc, item_id asc) tie-breaks), and the
cascade tests compare against it. It is independent of the kernel:
every stage is Catalyst arithmetic and a WindowGroupLimit top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_recommendation_spark.cascade import CascadeConfig
from streaming_recommendation_spark.functions.vectors import cosine_similarity, dot
from streaming_recommendation_spark.operators.topk import top_k_per_group


def dense_recall(users: DataFrame, items: DataFrame, k: int) -> DataFrame:
    """M1: each user's top-k items by dot(user_vec, item_vec) — the
    reference's LightGCN scoring (a matmul row). (user_id, item_id)."""
    scored = users.crossJoin(F.broadcast(items)).select(
        "user_id", "item_id", dot("user_vec", "item_vec").alias("recall_score")
    )
    return top_k_per_group(
        scored, k, ["user_id"], F.col("recall_score").desc(), F.col("item_id").asc()
    ).select("user_id", "item_id")


def _history_mean(history: DataFrame, items: DataFrame) -> DataFrame:
    """(user_id, history_vec): the per-dimension mean of each user's
    history item vectors (posexplode -> (user, dim) avg -> array)."""
    exploded = history.join(F.broadcast(items), "item_id").select(
        "user_id", F.posexplode("item_vec").alias("dim", "v")
    )
    return (
        exploded.groupBy("user_id", "dim")
        .agg(F.avg("v").alias("v"))
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "v"))), lambda s: s["v"]
            ).alias("history_vec")
        )
    )


def reference_recommend(
    users: DataFrame,
    items: DataFrame,
    history: DataFrame,
    cfg: CascadeConfig | None = None,
    recalled: DataFrame | None = None,
    rank_score: Column | None = None,
    rerank_score: Column | None = None,
) -> DataFrame:
    """``recommend``'s contract as a DataFrame plan: (user_id,
    item_id, rank), rank 1..k_final.

    recalled:     (user_id, item_id) candidates to use in place of the
                  dense recall (e.g. lsh_knn's output)
    rank_score:   Column over item_vec and history_vec; default
                  cosine(item_vec, history_vec)
    rerank_score: Column over user_vec and item_vec; default
                  cosine(user_vec, item_vec)
    """
    cfg = cfg or CascadeConfig()
    hist_vecs = _history_mean(history, items)
    if "user_vec" not in users.columns:
        users = hist_vecs.join(users.select("user_id"), "user_id", "left_semi").select(
            "user_id", F.col("history_vec").alias("user_vec")
        )
    if recalled is None:
        recalled = dense_recall(users, items, cfg.k_recall)

    # J6: drop items the user has already interacted with
    fresh = recalled.join(history, ["user_id", "item_id"], "left_anti")

    # M3 rank: candidate vs history context (a zero vector without
    # history), keep k_rank, then k_rerank
    with_feats = (
        fresh.join(F.broadcast(items), "item_id")
        .join(hist_vecs, "user_id", "left")
        .withColumn(
            "history_vec",
            F.coalesce(
                F.col("history_vec"),
                F.transform(F.col("item_vec"), lambda _: F.lit(0.0)),
            ),
        )
    )
    if rank_score is None:
        rank_score = cosine_similarity("item_vec", "history_vec")
    ranked = top_k_per_group(
        with_feats.select(
            "user_id", "item_id", "item_vec", rank_score.alias("rank_score")
        ),
        cfg.k_rank,
        ["user_id"],
        F.col("rank_score").desc(),
        F.col("item_id").asc(),
    )
    shortlisted = top_k_per_group(
        ranked,
        cfg.k_rerank,
        ["user_id"],
        F.col("rank_score").desc(),
        F.col("item_id").asc(),
    )

    # M4 rerank: user embedding vs item embedding, final top-k
    if rerank_score is None:
        rerank_score = cosine_similarity("user_vec", "item_vec")
    final_scored = shortlisted.join(
        users.select("user_id", "user_vec"), "user_id"
    ).select("user_id", "item_id", rerank_score.alias("rerank_score"))
    return top_k_per_group(
        final_scored,
        cfg.k_final,
        ["user_id"],
        F.col("rerank_score").desc(),
        F.col("item_id").asc(),
        rank_col="rank",
    ).select("user_id", "item_id", "rank")
