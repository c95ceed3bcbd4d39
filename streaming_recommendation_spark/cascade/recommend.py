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

One implementation, two feeders. ``cascade_kernel`` computes the
whole cascade for a block of users in numpy (mean-pool -> recall ->
exclude -> rank -> rerank; only the k_final survivors leave the
task). Spark distributes, numpy does the bulk math (guide §4.2/§8.3).

  * ``recommend`` feeds it through an Arrow cogroup
    (_cogroup_cascade): users, their history rows and, for
    ``recall_strategy="lsh"``, their recalled candidates
    (``operators.similarity.lsh_knn``) hash into user shards, and the
    item matrix replicates per shard.
  * ``streaming.scoring.score_batch`` feeds it through a narrow
    per-partition pass: each profile row carries its own history, so
    nothing shuffles and the item side ships from the driver.

Recall is the reference's LightGCN dot product over every item
("brute"), or SRP-LSH bucketed candidates ranked by cosine ("lsh").
Rank and rerank default to deterministic cosine stubs; a numpy
callable over row pairs replaces either (``cascade.scorers``: a numpy
MLP, or a torch module where torch is installed). The reference's
model_service stubs DIN/RankNet with ``random`` scores
(models.py:126-130,171-175); ours are DETERMINISTIC (documented
divergence, required for testability).
The kernel is bit-identical to a stage-per-DataFrame reference plan,
tests/cascade_reference.py, which the tests compare against.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CascadeConfig:
    k_recall: int = 100
    k_rank: int = 50
    k_rerank: int = 20
    k_final: int = 10
    # vector width, required by recall_strategy="lsh" (hyperplanes are
    # plan-time literals; see operators.similarity._require_dim)
    lsh_dim: int | None = None


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


def cascade_kernel(
    user_ids,
    user_vecs,
    hist_users,
    hist_items,
    items,
    cfg,
    candidates=None,
    rank_score=None,
    rerank_score=None,
):
    """The whole cascade for a block of users, in numpy.

    Per user: history mean-pool, dot-product recall top k_recall (or
    the given candidates), history exclusion, rank cut to
    min(k_rank, k_rerank) (two cuts on one ordering are one cut), and
    rerank top k_final.

    user_ids:   the distinct users of the block
    user_vecs:  their vectors, or None: the user vector IS the history
                mean (the reference's cold-start path, model_service/
                models.py:64-88) and a user with no known history item
                gets no recommendations
    hist_users: each history entry's position in ``user_ids`` (-1:
                not a user of the block), in history order
    hist_items: each history entry's item_id; ids not in ``items`` drop
    items:      ``item_side(...)``
    candidates: None: recall scores every item. Or (user positions,
                item_ids), shaped like the history pair: each user's
                recalled items, distinct per user, in any order and
                any number (lsh_knn's output). Ids not in ``items``
                drop, and a user with no candidate gets nothing.
    rank_score, rerank_score:
                None: the cosine stubs below. Or ``f(a, b) -> scores``
                over (n, dim) arrays of row pairs: (candidate item,
                history mean) for rank, (user, item) for rerank.

    Returns (user position, item_id, rank) arrays, rank 1..k_final,
    grouped by user in ascending position and in rank order within a
    user.

    Bit-parity with the DataFrame reference plan
    (tests/cascade_reference.py; pinned by tests/test_cascade.py::
    test_fused_cascade_matches_jvm*):
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
    k_short = min(cfg.k_rank, cfg.k_rerank)
    item_index = pd.Index(item_ids)

    def cosine(num, denom):
        out = np.zeros_like(num)
        np.divide(num, denom, out=out, where=denom > 0)
        return out

    def pairs(f, a, b):
        # f over the row pairs of two (dim, users, candidates) operands
        a, b = np.broadcast_arrays(a, b)
        scores = f(a.reshape(dim, -1).T, b.reshape(dim, -1).T)
        return np.asarray(scores, np.float64).reshape(a.shape[1:])

    # history mean-pool, in history order
    hu = hist_users
    hi = item_index.get_indexer(hist_items)
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

    if candidates is None:
        k = min(cfg.k_recall, n_items)
    else:
        # one row per user: C holds item positions, ``filled`` marks
        # the slots that hold a candidate
        cu, ci = candidates[0], item_index.get_indexer(candidates[1])
        keep = (cu >= 0) & (ci >= 0)
        order = np.argsort(cu[keep], kind="stable")
        cu, ci = cu[keep][order], ci[keep][order]
        n_cand = np.bincount(cu, minlength=len(user_ids))
        k = int(n_cand.max(initial=0))
        if k == 0:
            return empty
        slot = np.arange(len(cu)) - np.repeat(np.cumsum(n_cand) - n_cand, n_cand)
        C = np.zeros((len(user_ids), k), np.intp)
        filled = np.zeros(C.shape, bool)
        C[cu, slot] = ci
        filled[cu, slot] = True

    def top(keys, cand, valid, k):
        # (valid first, score desc, item_id asc); lexsort's LAST key
        # is primary and every pass is stable
        order = np.lexsort((cand, -keys, ~valid), axis=-1)[:, :k]
        return (
            np.take_along_axis(cand, order, -1),
            np.take_along_axis(valid, order, -1),
        )

    out = [empty]
    # bound the per-chunk score and candidate-vector arrays
    step = max(1, (1 << 20) // max(n_items, k * dim))
    for lo in range(0, len(live), step):
        r = live[lo : lo + step]
        if candidates is None:
            # M1 recall: dot(user, item) over every item, top k_recall
            scores = _fold(Ut[:, r, None], Vt[:, None, :])
            cand = np.argsort(-scores, axis=-1, kind="stable")[:, :k]
            valid = True
        else:
            cand, valid = C[r], filled[r]
        # J6: history exclusion
        valid = valid & ~np.isin(r[:, None].astype(np.int64) * n_items + cand, seen)
        # M3 rank (stub: cosine(item, history mean)), cut to
        # min(k_rank, k_rerank)
        if rank_score is None:
            rank_s = cosine(
                _fold(Vt[:, cand], Ht[:, r, None]),
                n_item[cand] * n_hist[r, None],
            )
        else:
            rank_s = pairs(rank_score, Vt[:, cand], Ht[:, r, None])
        cand, valid = top(rank_s, cand, valid, k_short)
        # M4 rerank (stub: cosine(user, item)), top k_final
        if rerank_score is None:
            rerank_s = cosine(
                _fold(Ut[:, r, None], Vt[:, cand]),
                n_user[r, None] * n_item[cand],
            )
        else:
            rerank_s = pairs(rerank_score, Ut[:, r, None], Vt[:, cand])
        cand, valid = top(rerank_s, cand, valid, cfg.k_final)
        rows, cols = np.nonzero(valid)
        out.append((r[rows], item_ids[cand[rows, cols]], (cols + 1).astype(np.int32)))
    return tuple(np.concatenate(parts) for parts in zip(*out))


def _cogroup_cascade(
    users: DataFrame,
    items: DataFrame,
    history: DataFrame,
    cfg: CascadeConfig,
    candidates: DataFrame | None = None,
    rank_score=None,
    rerank_score=None,
) -> DataFrame:
    """``cascade_kernel`` in one cogroup pass. Emits (user_id, item_id,
    rank), rank 1..k_final. ``candidates``: None (dense recall) or the
    (user_id, item_id) rows of each user's recalled items.

    History order is the rows' order in ``history`` (partition, then
    row), carried as a monotonically-increasing id across the shuffle.

    Plan shape: user, history and candidate rows (one union, told apart
    by ``__kind``) hash into ``spark.sql.shuffle.partitions`` shards by
    xxhash64(user_id); the item side replicates per shard by explode
    (no join) — the "item matrix on every worker" contract of a
    broadcast. Two exchanges beyond the candidates' own plan, no
    construction-time jobs, and no per-pair score row ever leaves the
    task.
    """
    import pandas as pd  # noqa: F401 (applyInPandas contract)
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = users.sparkSession
    shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    has_vec = "user_vec" in users.columns
    has_cands = candidates is not None
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

        kind = left["__kind"].to_numpy()
        users_df = left[kind == 0].drop_duplicates("user_id")
        hist = left[kind == 1].sort_values("__seq", kind="stable")
        cand = left[kind == 2]
        user_ids = users_df["user_id"].to_numpy()
        position = pd.Index(user_ids).get_indexer
        u, item_id, rank = cascade_kernel(
            user_ids,
            np.stack(users_df["user_vec"].to_numpy()) if has_vec and len(users_df) else None,
            position(hist["user_id"]),
            hist["item_id"].to_numpy(),
            item_side(right),
            cfg,
            (position(cand["user_id"]), cand["item_id"].to_numpy()) if has_cands else None,
            rank_score,
            rerank_score,
        )
        return pd.DataFrame({"user_id": user_ids[u], "item_id": item_id, "rank": rank})

    # user, history and candidate rows share one frame (cogroup takes
    # two sides); placeholders are non-null so Arrow keeps integer ids
    # exact
    vec, no_vec = [], []
    if has_vec:
        vec = [F.col("user_vec")]
        no_vec = [F.lit(None).cast(users.schema["user_vec"].dataType).alias("user_vec")]

    def tagged(df, kind, seq):
        return df.where(F.col("item_id").isNotNull()).select(
            F.col("user_id").cast(user_type).alias("user_id"),
            *no_vec,
            F.col("item_id").cast(item_type).alias("item_id"),
            seq.alias("__seq"),
            F.lit(kind).alias("__kind"),
        )

    left = users.select(
        "user_id",
        *vec,
        F.lit(0).cast(item_type).alias("item_id"),
        F.lit(0).cast("long").alias("__seq"),
        F.lit(0).alias("__kind"),
    ).unionByName(tagged(history, 1, F.monotonically_increasing_id()))
    if has_cands:
        left = left.unionByName(tagged(candidates, 2, F.lit(0).cast("long")))
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
    rank_score=None,
    rerank_score=None,
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
    rank_score, rerank_score:
             None (the cosine stubs) or a numpy callable
             ``f(a, b) -> scores`` over row pairs (``cascade_kernel``;
             ``cascade.scorers`` builds model-backed ones)
    recall_strategy:
             "brute" — dot(user, item) over every item, top k_recall
             (exact). "lsh" — SRP-LSH bucketed candidates
             (``operators.similarity.lsh_knn``, top k_recall by cosine
             per user; needs ``user_vec`` and ``config.lsh_dim``): at
             100 TB the item corpus is too large to score densely, and
             each table's buckets prune ~1/2^P of it.

    Returns (user_id, item_id, rank) with rank 1..k_final, computed by
    ``cascade_kernel`` in one Arrow cogroup pass.
    """
    cfg = config or CascadeConfig()
    if recall_strategy not in ("brute", "lsh"):
        raise ValueError(f"recall_strategy must be 'brute' or 'lsh', got {recall_strategy!r}")
    candidates = None
    if recall_strategy == "lsh":
        if "user_vec" not in users.columns:
            raise ValueError('recall_strategy="lsh" needs users.user_vec')
        from ..operators.similarity import lsh_knn

        candidates = lsh_knn(
            items,
            users.select("user_id", F.col("user_vec").alias("item_vec")),
            k=cfg.k_recall,
            dim=cfg.lsh_dim,
            id_col="item_id",
            vec_col="item_vec",
            query_id_col="user_id",
        ).select("user_id", F.col("neighbor_id").alias("item_id"))
    return _cogroup_cascade(users, items, history, cfg, candidates, rank_score, rerank_score)
