"""The three-stage recommendation cascade.

Reference dataflow (SURVEY §2.9 M1-M5):
  recall  — user embedding . item matrix, top k_recall
            (eval_online/main/lightgcn.py:32-45; model_service/
            models.py:47-55)
  exclude — drop items already in the user's history
            (model_service/models.py:61,83)
  rank    — DIN(candidate | history) score, top k_rank
            (eval_online/main/din.py:91-129, invoked inference.py:89-95)
  rerank  — RankNet(user_feat, item_feat) score, top k_final
            (eval_online/main/ranknet.py:85-105)
  chain   — k: recall 100 -> rank 50 -> rerank 20 -> final 10
            (model_service/models.py:198-210; inference.py:78-106)

Two plan shapes, one output contract:

  * fused (default scorers, brute recall) — ONE numpy kernel
    (cascade_kernel: mean-pool -> recall -> exclude -> rank ->
    rerank for a block of users; only the k_final survivors leave
    the task) with two feeders. ``recommend``'s is an Arrow cogroup
    (_fused_brute_cascade): users and their history rows, a separate
    frame, hash into shards and the item matrix replicates per shard.
    streaming.scoring.score_batch's is a narrow per-partition pass:
    each profile row carries its own history, so nothing shuffles
    and the item side ships from the driver. Spark distributes,
    numpy does the bulk math (guide §4.2/§8.3).
  * DataFrame plan (custom scorer Columns, "brute_jvm", "lsh") —
    every stage is a DataFrame stage; per-user top-k is a
    rank-filtered window (WindowGroupLimit — per-partition k-heaps);
    the item side is broadcast and reused by every stage. Scorers
    are pluggable Column-builders; a torch-backed
    ``predict_batch_udf`` drops into the same slots when model
    weights and torch are available (not in this container —
    import-gated).

The default scorers are deterministic embedding math (dot / cosine).
The reference's model_service stubs DIN/RankNet with ``random``
scores (models.py:126-130,171-175); ours are DETERMINISTIC
(documented divergence, required for testability).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot
from ..operators.similarity import mean_pool_grouped
from ..operators.topk import top_k_per_group


@dataclass
class CascadeConfig:
    k_recall: int = 100
    k_rank: int = 50
    k_rerank: int = 20
    k_final: int = 10
    # vector width, required by recall_strategy="lsh" (hyperplanes are
    # plan-time literals; see operators.similarity._require_dim)
    lsh_dim: int | None = None


def _default_recall_score() -> Column:
    """M1 stub: dot(user_vec, item_vec) — exactly the reference's
    LightGCN scoring (a matmul row)."""
    return dot("user_vec", "item_vec")


def _default_rank_score() -> Column:
    """M3 stub: cosine(candidate, mean-pooled history embedding) —
    a deterministic stand-in with DIN's signature (candidate scored
    against the user's history)."""
    return cosine_similarity("item_vec", "history_vec")


def _default_rerank_score() -> Column:
    """M4 stub: cosine(user_vec, item_vec) — RankNet's signature
    (user feature x item feature)."""
    return cosine_similarity("user_vec", "item_vec")


def _fold(a, b):
    """0.0 + a[0]*b[0] + a[1]*b[1] + ... over the leading (vector)
    axis: each product in the operands' dtype, widened into a float64
    accumulator left to right."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for d in range(a.shape[0]):
        acc += a[d] * b[d]
    return acc


def item_side(items):
    """The cascade kernel's item operand from a pandas frame of
    (item_id, item_vec): ids sorted ascending (stable), the matrix
    transposed to (dim, n_items) in the source dtype, and each item's
    L2 norm."""
    import numpy as np

    items = items.sort_values("item_id", kind="stable")
    item_ids = items["item_id"].to_numpy()
    if len(items) == 0:
        return item_ids, np.zeros((0, 0)), np.zeros(0)
    Vt = np.ascontiguousarray(np.stack(items["item_vec"].to_numpy()).T)
    return item_ids, Vt, np.sqrt(_fold(Vt, Vt))


def cascade_kernel(user_ids, user_vecs, hist_users, hist_items, items, cfg):
    """The whole default-scorer cascade for a block of users, in numpy.

    Per user: history mean-pool, dot-product recall top k_recall,
    history exclusion, cosine(item, history) rank cut to
    min(k_rank, k_rerank) (two cuts on one ordering are one cut), and
    cosine(user, item) rerank top k_final.

    user_ids:   the distinct users of the block
    user_vecs:  their vectors, or None: the user vector IS the history
                mean (the reference's cold-start path, model_service/
                models.py:64-88) and a user with no known history item
                gets no recommendations
    hist_users: each history entry's position in ``user_ids`` (-1:
                not a user of the block), in history order
    hist_items: each history entry's item_id; ids not in ``items`` drop
    items:      ``item_side(...)``

    Returns (user position, item_id, rank) arrays, rank 1..k_final,
    grouped by user in ascending position and in rank order within a
    user.

    Bit-parity with the DataFrame plan (pinned by tests/
    test_cascade.py::test_fused_cascade_matches_jvm*):
      * products in the source dtype (float32 x float32 stays
        float32, as Catalyst's zip_with does), each widened into a
        float64 accumulator left to right — dot() and l2_norm()'s
        0.0 + p1 + p2 + ... fold, float32 squares included;
      * cosine = dot / (|a| * |b|) when that denominator is > 0,
        else 0.0;
      * the history mean is the float64 sum in history order divided
        by the count (avg's sum / count); a user with no known history
        items gets a zero history vector;
      * every top-k breaks ties on score descending, then item_id
        ascending (items are pre-sorted by item_id and every sort is
        stable; -0.0 and 0.0 compare equal, as in Spark).
    """
    import numpy as np
    import pandas as pd

    item_ids, Vt, n_item = items
    dim, n_items = Vt.shape
    empty = (np.zeros(0, np.int64), item_ids[:0], np.zeros(0, np.int32))
    if len(user_ids) == 0 or n_items == 0:
        return empty
    k_recall, k_final = cfg.k_recall, cfg.k_final
    k_short = min(cfg.k_rank, cfg.k_rerank)

    def cosine(num, denom):
        out = np.zeros_like(num)
        np.divide(num, denom, out=out, where=denom > 0)
        return out

    # history mean-pool, in history order
    hu = hist_users
    hi = pd.Index(item_ids).get_indexer(hist_items)
    known = (hu >= 0) & (hi >= 0)
    hu, hi = hu[known], hi[known]
    hsum = np.zeros((len(user_ids), dim))
    np.add.at(hsum, hu, Vt[:, hi].T.astype(np.float64))
    cnt = np.bincount(hu, minlength=len(user_ids))
    H = np.zeros_like(hsum)
    np.divide(hsum, cnt[:, None], out=H, where=cnt[:, None] > 0)
    if user_vecs is not None:
        U = user_vecs
        live = np.arange(len(user_ids))
    else:
        U = H
        live = np.flatnonzero(cnt > 0)
    Ht, Ut = np.ascontiguousarray(H.T), np.ascontiguousarray(U.T)
    n_hist = np.sqrt(_fold(Ht, Ht))
    n_user = np.sqrt(_fold(Ut, Ut))
    seen = np.unique(hu.astype(np.int64) * n_items + hi)

    def top(keys, cand, valid, k):
        # (valid first, score desc, item_id asc); lexsort's LAST key
        # is primary and every pass is stable
        order = np.lexsort((cand, -keys, ~valid), axis=-1)[:, :k]
        return (
            np.take_along_axis(cand, order, -1),
            np.take_along_axis(valid, order, -1),
        )

    out = [empty]
    k = min(k_recall, n_items)
    # bound the per-chunk score and candidate-vector arrays
    step = max(1, (1 << 20) // max(n_items, k * dim))
    for lo in range(0, len(live), step):
        r = live[lo : lo + step]
        # M1 recall: dot(user, item) over every item, top k_recall
        scores = _fold(Ut[:, r, None], Vt[:, None, :])
        cand = np.argsort(-scores, axis=-1, kind="stable")[:, :k]
        # J6: history exclusion
        valid = ~np.isin(r[:, None].astype(np.int64) * n_items + cand, seen)
        # M3 rank: cosine(item, history mean), cut to min(k_rank, k_rerank)
        rank_s = cosine(
            _fold(Vt[:, cand], Ht[:, r, None]),
            n_item[cand] * n_hist[r, None],
        )
        cand, valid = top(rank_s, cand, valid, k_short)
        # M4 rerank: cosine(user, item), top k_final
        rerank_s = cosine(
            _fold(Ut[:, r, None], Vt[:, cand]),
            n_user[r, None] * n_item[cand],
        )
        cand, valid = top(rerank_s, cand, valid, k_final)
        rows, cols = np.nonzero(valid)
        out.append((r[rows], item_ids[cand[rows, cols]], (cols + 1).astype(np.int32)))
    return tuple(np.concatenate(parts) for parts in zip(*out))


def _fused_brute_cascade(
    users: DataFrame, items: DataFrame, history: DataFrame, cfg: CascadeConfig
) -> DataFrame:
    """The whole default-scorer cascade (``cascade_kernel``) in one
    cogroup pass. Emits (user_id, item_id, rank), rank 1..k_final.

    History order is the rows' order in ``history`` (partition, then
    row), carried as a monotonically-increasing id across the shuffle.

    Plan shape: users and history rows (one union) hash into
    ``spark.sql.shuffle.partitions`` shards by xxhash64(user_id); the
    item side replicates per shard by explode (no join) — the "item
    matrix on every worker" contract of a broadcast. Two exchanges,
    no construction-time jobs, and no per-pair score row ever leaves
    the task.
    """
    import pandas as pd  # noqa: F401 (applyInPandas contract)
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = users.sparkSession
    shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    has_vec = "user_vec" in users.columns
    user_type = users.schema["user_id"].dataType
    item_type = items.schema["item_id"].dataType
    out_schema = StructType(
        [
            users.schema["user_id"],
            items.schema["item_id"],
            StructField("rank", IntegerType(), False),
        ]
    )

    def score_shard(left, right):
        import numpy as np
        import pandas as pd

        is_hist = left["__hist"].to_numpy(bool)
        users_df = left[~is_hist].drop_duplicates("user_id")
        hist = left[is_hist].sort_values("__seq", kind="stable")
        user_ids = users_df["user_id"].to_numpy()
        u, item_id, rank = cascade_kernel(
            user_ids,
            np.stack(users_df["user_vec"].to_numpy()) if has_vec and len(users_df) else None,
            pd.Index(user_ids).get_indexer(hist["user_id"]),
            hist["item_id"].to_numpy(),
            item_side(right),
            cfg,
        )
        return pd.DataFrame({"user_id": user_ids[u], "item_id": item_id, "rank": rank})

    # user rows and history rows share one frame (cogroup takes two
    # sides); placeholders are non-null so Arrow keeps integer ids exact
    vec, no_vec = [], []
    if has_vec:
        vec = [F.col("user_vec")]
        no_vec = [F.lit(None).cast(users.schema["user_vec"].dataType).alias("user_vec")]
    left = users.select(
        "user_id",
        *vec,
        F.lit(0).cast(item_type).alias("item_id"),
        F.lit(0).cast("long").alias("__seq"),
        F.lit(False).alias("__hist"),
    ).unionByName(
        history.where(F.col("item_id").isNotNull()).select(
            F.col("user_id").cast(user_type).alias("user_id"),
            *no_vec,
            F.col("item_id").cast(item_type).alias("item_id"),
            F.monotonically_increasing_id().alias("__seq"),
            F.lit(True).alias("__hist"),
        )
    )
    it = items.select(
        "item_id",
        "item_vec",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(shards - 1).cast("long"))
        ).alias("__shard"),
    )
    return (
        left.withColumn("__shard", F.pmod(F.xxhash64("user_id"), F.lit(shards)))
        .groupBy("__shard")
        .cogroup(it.groupBy("__shard"))
        .applyInPandas(score_shard, schema=out_schema)
    )


def recommend(
    users: DataFrame,
    items: DataFrame,
    history: DataFrame,
    config: CascadeConfig | None = None,
    recall_score: Column | None = None,
    rank_score: Column | None = None,
    rerank_score: Column | None = None,
    recall_strategy: str = "brute",
) -> DataFrame:
    """Run the cascade for every user in `users`.

    users:   (user_id[, user_vec: array<float|double>]), one row per
             user. Without ``user_vec`` the user vector is the mean of
             the user's known history item vectors (the reference's
             cold-start path); users with no known history item then
             get no recommendations.
    items:   (item_id, item_vec), one row per item
    history: (user_id, item_id) — already-seen pairs to exclude (J6)
             and the rows the history mean-pool averages

    Returns (user_id, item_id, rank) with rank 1..k_final.

    With the three default scorers and ``recall_strategy="brute"`` the
    whole cascade runs as one Arrow cogroup pass over
    ``cascade_kernel`` (``_fused_brute_cascade``, bit-identical to the
    DataFrame plan).
    A custom scorer Column, ``"brute_jvm"`` or ``"lsh"`` runs the
    DataFrame plan: items broadcast to every stage; the candidate set
    shrinks 100 -> 50 -> 20 -> 10 per user, so later stages are
    narrow; one shuffle per top-k window, all on user_id.
    """
    cfg = config or CascadeConfig()
    scorers = (recall_score, rank_score, rerank_score)
    if recall_strategy == "brute" and all(s is None for s in scorers):
        return _fused_brute_cascade(users, items, history, cfg)

    # History mean-pool for the rank stub (A7): mean of history item
    # vectors per user; users with no history get a zero vector.
    hist_vecs = mean_pool_grouped(
        history.join(F.broadcast(items), "item_id"), "user_id", "item_vec"
    ).withColumnRenamed("mean_vec", "history_vec")
    if "user_vec" not in users.columns:
        users = hist_vecs.join(users.select("user_id"), "user_id", "left_semi").select(
            "user_id", F.col("history_vec").alias("user_vec")
        )

    # M1 recall. recall_strategy:
    #   "brute" — score every (user, item) pair (exact); a custom
    #             recall_score Column runs in-plan over the crossJoin.
    #   "brute_jvm" — the crossJoin+window reference shape.
    #   "lsh"   — SRP-LSH bucketed approximate recall: at 100 TB the
    #             item corpus is too large to score densely; buckets
    #             prune ~1/2^P per table (same output contract)
    if recall_strategy == "lsh":
        from ..operators.similarity import lsh_knn

        recalled = lsh_knn(
            items,
            users.select("user_id", F.col("user_vec").alias("item_vec")),
            k=cfg.k_recall,
            dim=cfg.lsh_dim,
            id_col="item_id",
            vec_col="item_vec",
            query_id_col="user_id",
        ).select("user_id", F.col("neighbor_id").alias("item_id"))
    else:
        scored = users.crossJoin(F.broadcast(items)).select(
            "user_id",
            "item_id",
            (
                recall_score if recall_score is not None else _default_recall_score()
            ).alias("recall_score"),
        )
        recalled = top_k_per_group(
            scored,
            cfg.k_recall,
            ["user_id"],
            F.col("recall_score").desc(),
            F.col("item_id").asc(),
        )

    # J6: drop items the user has already interacted with.
    fresh = recalled.join(history, ["user_id", "item_id"], "left_anti")

    # M3 rank: candidate vs history context, keep k_rank.
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
    ranked = top_k_per_group(
        with_feats.select(
            "user_id",
            "item_id",
            "item_vec",
            (rank_score if rank_score is not None else _default_rank_score()).alias(
                "rank_score"
            ),
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

    # M4 rerank: user embedding vs item embedding, final top-k.
    final_scored = shortlisted.join(
        users.select("user_id", "user_vec"), "user_id"
    ).select(
        "user_id",
        "item_id",
        (rerank_score if rerank_score is not None else _default_rerank_score()).alias(
            "rerank_score"
        ),
    )
    return top_k_per_group(
        final_scored,
        cfg.k_final,
        ["user_id"],
        F.col("rerank_score").desc(),
        F.col("item_id").asc(),
        rank_col="rank",
    ).select("user_id", "item_id", "rank")
