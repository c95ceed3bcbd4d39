"""Streaming continuous aggregate: per-(key, time-bucket) LAST
observation maintained incrementally — the hypertable "continuous
aggregate" (TimescaleDB caggs, InfluxDB tasks) twin of the batch
gap-fill (operators/timeseries.py). The maintained state is the
``bucket_last_obs`` relation; the dense LOCF read applies
``locf_fill`` over it at query time, so a stream consumer gets the
same dense series q149 computes from scratch — without rescanning
history.

Why this state needs NO frontier guard (contrast streaming/itemcf.py
and streaming/scd2.py, which RAISE on out-of-order arrival): the
per-bucket merge is a struct-max over (ts_us, value) — commutative,
associative, idempotent. Any batch split, any arrival order, any
redelivery folds to the state the one-shot batch computation
produces. Late data lands in its (old) bucket and simply wins or
loses the max on its own timestamp; nothing is silently corrupted,
so nothing needs rejecting. That difference is structural: capped
windows and SCD2 intervals depend on arrival ORDER, a max does not.

Storage — one per-bucket versioned state on streaming/state.py (all
its guarantees apply: reads see only versions strictly before the
in-flight batch, a retry fully overwrites its own version, pruning
never counts the in-flight batch as superseding):

    state_dir/obs/v=<batch>/bucket=<hash(key) % n>/

Per-batch cost ~ the touched key-buckets' rewrite: batch rows reduce
to <= 1 row per (key, bucket) map-side, merge against only the
buckets the batch touches, untouched buckets carry forward by simply
remaining at their older version.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.timeseries import (
    bucket_last_obs,
    locf_fill,
    merge_obs,
    rolling_anomalies,
)
from .state import fold_bucketed, read_bucketed


class TimeBucketStream:
    """Configuration + state access for one streamed continuous
    aggregate (last-observation-per-bucket)."""

    def __init__(
        self,
        state_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        value_col: str = "value",
        bucket_seconds: int = 3600,
        n_buckets: int = 8,
        keep_versions: int = 3,
        key_type: str = "bigint",
        value_type: str = "double",
    ):
        self.obs_dir = os.path.join(state_dir, "obs")
        self.key_col = key_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.bucket_seconds = bucket_seconds
        self.n_buckets = n_buckets
        self.keep_versions = keep_versions
        self.key_type = key_type
        self.value_type = value_type

    def _schema(self) -> str:
        return (
            f"{self.key_col} {self.key_type}, bucket_start bigint, "
            f"ts_us bigint, {self.value_col} {self.value_type}, bucket int"
        )

    def read_obs(
        self, spark: SparkSession, before: int | None = None, buckets=None
    ) -> DataFrame:
        return read_bucketed(
            spark, self.obs_dir, self._schema(), before, buckets
        )

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one event batch into the obs state; directly callable
        for backfills. Accepts ANY arrival order — the struct-max
        merge is commutative/idempotent (module docstring), so late
        and duplicate deliveries are safe by construction."""
        k, v = self.key_col, self.value_col
        # the SAME merge operator the batch twin (q155) replays, run
        # through the shared fold skeleton (see state.fold_bucketed)
        fold_bucketed(
            bucket_last_obs(
                batch_df.select(k, self.ts_col, v),
                k,
                self.ts_col,
                v,
                self.bucket_seconds,
            ),
            k,
            self.obs_dir,
            self._schema(),
            batch_id,
            self.n_buckets,
            lambda stored, batch: merge_obs(stored, batch, k, v),
            self.keep_versions,
        )

    # --- queries over the maintained state ----------------------------------

    def dense(self, spark: SparkSession) -> DataFrame:
        """The dense LOCF-filled series over the maintained state —
        gap_fill_locf's output, without rescanning event history."""
        return locf_fill(
            self.read_obs(spark).drop("bucket", "ts_us"),
            self.key_col,
            self.value_col,
            self.bucket_seconds,
        )

    def anomalies(
        self,
        spark: SparkSession,
        window_rows: int = 24,
        k_sigma: int = 2,
        min_baseline: int = 12,
    ) -> DataFrame:
        """The ALERTING read (VERDICT r7 #5): rolling z-score anomaly
        flags over the maintained dense series — q171's batch read
        without rescanning event history. Pure composition: the same
        ``rolling_anomalies`` operator (one more window pass on the
        dense grid's existing (key, bucket) sort; integer
        cross-multiplied test, no sqrt) applied to :meth:`dense`.
        Because the underlying merge is commutative/idempotent, the
        flags are identical for ANY ingest order or redelivery — the
        q173 twin pins this equality against q171's oracle verbatim.
        """
        d = self.dense(spark)
        return rolling_anomalies(
            d.select(self.key_col, "bucket_start", self.value_col),
            self.key_col,
            "bucket_start",
            self.value_col,
            window_rows=window_rows,
            k_sigma=k_sigma,
            min_baseline=min_baseline,
        )


__all__ = ["TimeBucketStream"]
