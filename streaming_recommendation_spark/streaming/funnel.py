"""Streaming conversion funnel: per-(user, stage) FIRST-occurrence
state maintained incrementally, so the funnel read
(operators/funnel.py::funnel_reach) never rescans event history.

Why this state needs NO frontier guard (contrast streaming/itemcf.py
and streaming/scd2.py, which RAISE on out-of-order arrival): the
per-(user, stage) merge is an elementwise MIN over first-occurrence
timestamps — commutative, associative, idempotent. Any batch split,
arrival order, or redelivery folds to the state the one-shot batch
computation produces; a late event either lowers a stage's first
timestamp or loses the min on its own value. The order-of-firsts
funnel definition was CHOSEN for exactly this property (see
operators/funnel.py module docstring) — a re-entrant funnel would
need unbounded per-user history.

Storage — one per-bucket versioned state on streaming/state.py (all
its guarantees apply: reads see only versions strictly before the
in-flight batch, a retry fully overwrites its own version, pruning
never counts the in-flight batch as superseding):

    state_dir/firsts/v=<batch>/bucket=<hash(user) % n>/

Per-batch cost ~ the touched user-buckets' rewrite: batch rows reduce
map-side to <= |stages| rows per user, merge against only the buckets
the batch touches, untouched buckets carry forward at their older
version. State size is bounded at |users| x |stages| rows — constant
per user, independent of event volume.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.funnel import funnel_reach, merge_firsts, stage_firsts
from .state import fold_bucketed, read_bucketed


class FunnelStream:
    """Configuration + state access for one streamed conversion
    funnel (first-occurrence-per-stage)."""

    def __init__(
        self,
        state_dir: str,
        stages: list[str],
        step_window_seconds: int = 86400,
        user_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        n_buckets: int = 8,
        keep_versions: int = 3,
        user_type: str = "bigint",
    ):
        self.firsts_dir = os.path.join(state_dir, "firsts")
        self.stages = list(stages)
        self.step_window_seconds = step_window_seconds
        self.user_col = user_col
        self.ts_col = ts_col
        self.type_col = type_col
        self.n_buckets = n_buckets
        self.keep_versions = keep_versions
        self.user_type = user_type

    def _schema(self) -> str:
        return (
            f"{self.user_col} {self.user_type}, stage_idx int, "
            "first_us bigint, bucket int"
        )

    def read_firsts(
        self, spark: SparkSession, before: int | None = None, buckets=None
    ) -> DataFrame:
        return read_bucketed(
            spark, self.firsts_dir, self._schema(), before, buckets
        )

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one event batch into the firsts state; directly
        callable for backfills. Accepts ANY arrival order — the min
        merge is commutative/idempotent (module docstring), so late
        and duplicate deliveries are safe by construction."""
        u = self.user_col
        # the SAME merge operator the batch twin (q160) replays, run
        # through the shared fold skeleton (persist across the two
        # actions, touched-bucket read-before-merge, versioned write)
        fold_bucketed(
            stage_firsts(batch_df, self.stages, u, self.ts_col, self.type_col),
            u,
            self.firsts_dir,
            self._schema(),
            batch_id,
            self.n_buckets,
            lambda stored, batch: merge_firsts(stored, batch, u),
            self.keep_versions,
        )

    # --- queries over the maintained state ----------------------------------

    def funnel(self, spark: SparkSession) -> DataFrame:
        """The per-stage funnel over the maintained state —
        funnel_counts' output, without rescanning event history."""
        return funnel_reach(
            self.read_firsts(spark),
            self.stages,
            self.step_window_seconds,
            self.user_col,
        )


__all__ = ["FunnelStream"]
