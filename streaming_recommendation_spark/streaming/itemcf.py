"""Streaming item-item co-occurrence CF: continuously-maintained pair
counts over per-user recency-capped histories, as a foreachBatch
pipeline over ``operators/itemcf``.

Why this is NOT a plain sum-merge sketch: the recency cap makes pair
counts non-monotone — a new interaction can EVICT an old item from a
user's capped window, retracting every pair that item formed there.
So the incremental unit is a signed pair DELTA, not an increment:

    per batch, per affected user:
        new_window = topN(stored_window  (max-rec merge)  batch rows)
        +1 for pairs in new_window but not stored_window
        -1 for pairs in stored_window but not new_window

Deltas apply to the stored counts by one outer-join sum; counts that
reach zero are dropped. Batch cost ~ |affected users| x C(cap, 2)
pair-diff rows + the touched pair buckets' rewrite — never the full
corpus, never the full count table.

Exactness (the q141 twin's claim): the streamed state equals the
batch computation over all ingested interactions, PROVIDED per-user
arrival is in order (every accepted event's recency >= that user's
stored window maximum — the same frontier contract streaming/scd2.py
enforces). Induction: if window == topN(full history) before a batch,
then topN(topN(H) merge B) == topN(H merge B) because a max-rec merge
can only RAISE the rank of items above an evicted item, and an
in-order batch row's recency >= every forgotten (evicted) recency of
the same item, so the re-entering item's rank is its true full-history
rank. Out-of-order events for evicted items are exactly where the
forgotten recency could matter, so ``ingest_batch`` RAISES on any
event below the stored frontier — late data belongs in an upstream
backfill, not silently folded into a window it would corrupt.

Storage — two per-bucket versioned states (streaming/state.py; reads
see only versions strictly before the in-flight batch, a retry fully
overwrites its own version, pruning never counts the in-flight batch
as superseding):

    state_dir/windows/v=<batch>/bucket=<hash(user) % n>/
    state_dir/pairs/v=<batch>/bucket=<hash(a,b) % n>/

Per-item user counts (cosine's denominator) are derived from the
windows state at query time — one pass over |windows| rows; they are
deliberately not a third incremental state (each eviction/insert
would touch them anyway, same cost, more machinery).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.itemcf import apply_pair_deltas, capped_histories, pair_deltas
from .state import prune_buckets, read_bucketed, write_version


class ItemCfStream:
    """Configuration + state access for one streamed item-CF index."""

    def __init__(
        self,
        state_dir: str,
        user_col: str = "user_id",
        item_col: str = "item_id",
        recency_col: str = "ts",
        max_items: int = 20,
        n_user_buckets: int = 8,
        n_pair_buckets: int = 8,
        keep_versions: int = 3,
        user_type: str = "bigint",
        item_type: str = "bigint",
        recency_type: str = "bigint",
    ):
        self.windows_dir = os.path.join(state_dir, "windows")
        self.pairs_dir = os.path.join(state_dir, "pairs")
        self.user_col = user_col
        self.item_col = item_col
        self.recency_col = recency_col
        self.max_items = max_items
        self.n_user_buckets = n_user_buckets
        self.n_pair_buckets = n_pair_buckets
        self.keep_versions = keep_versions
        self.user_type = user_type
        self.item_type = item_type
        self.recency_type = recency_type

    # --- schemas / bucketing ------------------------------------------------

    def _windows_schema(self) -> str:
        return (
            f"{self.user_col} {self.user_type}, "
            f"{self.item_col} {self.item_type}, "
            f"{self.recency_col} {self.recency_type}, bucket int"
        )

    def _pairs_schema(self) -> str:
        return (
            f"item_a {self.item_type}, item_b {self.item_type}, "
            "pair_users bigint, bucket int"
        )

    def _ubucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_user_buckets)).cast("int")

    def _pbucket(self, a, b):
        return F.pmod(F.xxhash64(a, b), F.lit(self.n_pair_buckets)).cast("int")

    # --- state reads (newest committed version per bucket) -----------------

    def read_windows(
        self, spark: SparkSession, before: int | None = None, buckets=None
    ) -> DataFrame:
        return read_bucketed(
            spark, self.windows_dir, self._windows_schema(), before, buckets
        )

    def read_pair_counts(
        self, spark: SparkSession, before: int | None = None, buckets=None
    ) -> DataFrame:
        return read_bucketed(
            spark, self.pairs_dir, self._pairs_schema(), before, buckets
        )

    # --- ingest -------------------------------------------------------------

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one interaction batch into both states; directly
        callable for backfills. Raises on out-of-order arrival (an
        event below its user's stored window maximum — see module
        docstring for why exactness needs this)."""
        spark = batch_df.sparkSession
        u, i, rec = self.user_col, self.item_col, self.recency_col
        batch = batch_df.select(u, i, rec)

        ubs = sorted(
            r["b"]
            for r in batch.select(self._ubucket(F.col(u)).alias("b"))
            .distinct()
            .collect()
        )
        if not ubs:
            return
        stored = self.read_windows(spark, before=batch_id, buckets=set(ubs))
        users = batch.select(u).distinct()
        old_windows = stored.join(F.broadcast(users), u, "left_semi")
        untouched = stored.join(F.broadcast(users), u, "left_anti")

        # frontier guard: every event must be >= its user's stored max
        frontier = old_windows.groupBy(u).agg(F.max(rec).alias("__frontier"))
        late = (
            batch.join(F.broadcast(frontier), u)
            .where(F.col(rec) < F.col("__frontier"))
            .limit(1)
            .collect()
        )
        if late:
            r = late[0]
            raise ValueError(
                f"out-of-order interaction for {u}={r[u]}: {rec}={r[rec]} "
                f"is below the stored window frontier {r['__frontier']}; "
                "late data must arrive as an upstream backfill, not be "
                "folded into a capped window it would silently corrupt"
            )

        # persisted: feeds the delta fold AND the windows write (one
        # cap computation per batch, not two)
        new_windows = capped_histories(
            old_windows.unionByName(batch),
            u,
            i,
            rec,
            max_items=self.max_items,
            keep_recency=True,
        ).persist()

        # signed pair deltas for the affected users only (shared
        # operator — the q141 twin replays the same code path)
        deltas = pair_deltas(old_windows, new_windows, u, i).persist()

        pbs = sorted(
            r["b"]
            for r in deltas.select(
                self._pbucket(F.col("item_a"), F.col("item_b")).alias("b")
            )
            .distinct()
            .collect()
        )
        if pbs:
            counts = self.read_pair_counts(
                spark, before=batch_id, buckets=set(pbs)
            )
            merged = apply_pair_deltas(counts, deltas).withColumn(
                "bucket", self._pbucket(F.col("item_a"), F.col("item_b"))
            )
            # ensure_buckets: a touched bucket whose pairs ALL hit
            # zero writes no parquet partition — the empty dir keeps
            # its (empty) copy newest, else the older version's stale
            # counts would resurrect (state.write_version docstring).
            write_version(
                merged,
                self.pairs_dir,
                batch_id,
                partition_by=["bucket"],
                ensure_buckets=pbs,
            )
            prune_buckets(self.pairs_dir, batch_id, self.keep_versions)
        deltas.unpersist()

        write_version(
            untouched.unionByName(new_windows).withColumn(
                "bucket", self._ubucket(F.col(u))
            ),
            self.windows_dir,
            batch_id,
            partition_by=["bucket"],
        )
        prune_buckets(self.windows_dir, batch_id, self.keep_versions)
        new_windows.unpersist()

    # --- queries over the maintained state ----------------------------------

    def item_counts(self, spark: SparkSession) -> DataFrame:
        """Per-item user count over the maintained capped universe —
        cosine's denominator, derived from windows state in one pass."""
        return (
            self.read_windows(spark)
            .groupBy(F.col(self.item_col).alias("item_id"))
            .agg(F.count(F.lit(1)).alias("users"))
        )

    def similarity(
        self,
        spark: SparkSession,
        normalization: str = "cosine",
        min_pair_users: int = 1,
    ) -> DataFrame:
        from ..operators.itemcf import item_similarity

        return item_similarity(
            self.read_pair_counts(spark),
            self.item_counts(spark),
            normalization,
            min_pair_users,
        )


__all__ = ["ItemCfStream"]
