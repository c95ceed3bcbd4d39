"""Streaming target encoding: the per-category (cnt, pos) sufficient
statistic maintained incrementally, so the smoothed-encoding lookup
table (operators/features.py::encode_from_counts) is always current
without rescanning history — the "online feature store" pattern
(CatBoost-style category statistics served fresh to training and
inference).

Merge semantics — additive, like the CMS sketch and UNLIKE the
funnel/cagg min/max states: per-category SUM is associative and
commutative but NOT idempotent, so delivering the same EVENTS twice
under different batch ids double-counts (the source's exactly-once
contract, e.g. Kafka offsets + checkpoint). What IS safe by
construction is the same-batch retry: the versioned state layer
(streaming/state.py) gives reads strictly-before-this-batch
visibility and full overwrite of a failed attempt's version — the
identical argument the CMS/HLL snapshots make, here on per-bucket
state because a category table (per-user statistics) can be large.

Storage:

    state_dir/counts/v=<batch>/bucket=<hash(category) % n>/

Per-batch cost ~ the touched category-buckets' rewrite: batch rows
reduce map-side to one row per category, merge against only the
buckets the batch touches, untouched buckets carry forward at their
older version. Counts only ever grow — no eviction, so no
empty-bucket resurrection hazard (contrast streaming/itemcf.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.features import (
    category_counts,
    encode_from_counts,
    merge_category_counts,
)
from .state import fold_bucketed, read_bucketed


class TargetEncodeStream:
    """Configuration + state access for one streamed target encoding
    (per-category additive counts)."""

    def __init__(
        self,
        state_dir: str,
        category_col: str,
        target_predicate,
        smoothing: int = 100,
        n_buckets: int = 8,
        keep_versions: int = 3,
        category_type: str = "bigint",
    ):
        self.counts_dir = os.path.join(state_dir, "counts")
        self.category_col = category_col
        # Column-producing callable (df -> boolean Column): predicates
        # don't serialize, expressions rebuild per batch
        self.target_predicate = target_predicate
        self.smoothing = smoothing
        self.n_buckets = n_buckets
        self.keep_versions = keep_versions
        self.category_type = category_type

    def _schema(self) -> str:
        return (
            f"{self.category_col} {self.category_type}, cnt bigint, "
            "pos bigint, bucket int"
        )

    def read_counts(
        self, spark: SparkSession, before: int | None = None, buckets=None
    ) -> DataFrame:
        return read_bucketed(
            spark, self.counts_dir, self._schema(), before, buckets
        )

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one batch's category counts into the state; directly
        callable for backfills. Same-batch retries are idempotent
        (versioned overwrite); duplicate EVENTS across batch ids
        double-count — the additive contract (module docstring)."""
        c = self.category_col
        # the SAME merge operator the batch twin (q164) replays, run
        # through the shared fold skeleton (see state.fold_bucketed)
        fold_bucketed(
            category_counts(batch_df, c, self.target_predicate(batch_df)),
            c,
            self.counts_dir,
            self._schema(),
            batch_id,
            self.n_buckets,
            lambda stored, batch: merge_category_counts(stored, batch, c),
            self.keep_versions,
        )

    # --- queries over the maintained state ----------------------------------

    def encoding(self, spark: SparkSession) -> DataFrame:
        """The smoothed-encoding lookup table over the maintained
        counts — target_encode's output, without rescanning history."""
        return encode_from_counts(
            self.read_counts(spark), self.category_col, self.smoothing
        )


__all__ = ["TargetEncodeStream"]
