"""Streaming SCD2 dimension maintenance: CDC change records ->
continuously-maintained validity-interval table, as a foreachBatch
pipeline over ``operators/scd2.scd2_apply_batch``.

Storage layout — per-BUCKET versioned state:

    state_dir/v=<batch_id>/bucket=<hash(key) % n_buckets>/...

Each batch computes the merged intervals for its AFFECTED buckets
only and writes them under its own version — one write job, sized by
the touched buckets, never the whole dimension. The current state of
bucket b is its NEWEST version dir; a retried batch re-reads versions
strictly BEFORE its batch_id and fully overwrites its own version
dir, so redelivery is idempotent (same versioned-state argument as
streaming/sketches.py, applied per bucket because SCD2 state is
data-sized where a sketch is constant-sized). Superseded bucket dirs
outside the redelivery window are pruned.

At warehouse scale this layout is the local-filesystem stand-in for
a table format's MERGE (Delta/Iceberg row-level upsert) — the plan
shape (merge cost ~ |batch| + |affected open intervals|) is the part
that transfers; the q121-shape batch twin q134 pins the merge step
itself against the full-rebuild oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_apply_batch, scd2_intervals
from .state import prune_buckets, read_bucketed, write_version


def _state_schema(key_type: str, value_type: str, ts_type: str, id_type: str,
                  key_col: str, value_col: str) -> str:
    return (
        f"{key_col} {key_type}, {value_col} {value_type}, "
        f"valid_from {ts_type}, valid_to {ts_type}, "
        f"first_event_id {id_type}, n_events bigint, "
        f"last_ts {ts_type}, last_event_id {id_type}, bucket int"
    )


class Scd2Stream:
    """Configuration + state access for one streamed SCD2 dimension."""

    def __init__(
        self,
        state_dir: str,
        key_col: str = "user_id",
        value_col: str = "event_type",
        ts_col: str = "ts",
        id_col: str = "event_id",
        n_buckets: int = 16,
        schema_types: tuple[str, str, str, str] = (
            "bigint", "string", "bigint", "bigint"
        ),
        keep_versions: int = 3,
    ):
        self.state_dir = state_dir
        self.key_col = key_col
        self.value_col = value_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.n_buckets = n_buckets
        self.schema_types = schema_types
        self.keep_versions = keep_versions

    def _schema(self) -> str:
        kt, vt, tt, it = self.schema_types
        return _state_schema(kt, vt, tt, it, self.key_col, self.value_col)

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def read_state(
        self, spark: SparkSession, before: int | None = None, buckets=None
    ) -> DataFrame:
        """Current intervals (newest version per bucket), optionally
        restricted to a bucket subset."""
        return read_bucketed(spark, self.state_dir, self._schema(), before, buckets)

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one batch of change records; write affected buckets
        as v=<batch_id>. Directly callable for backfills."""
        spark = batch_df.sparkSession
        affected = sorted(
            r["b"]
            for r in batch_df.select(
                self._bucket(F.col(self.key_col)).alias("b")
            )
            .distinct()
            .collect()
        )
        if not affected:
            return
        state = self.read_state(spark, before=batch_id, buckets=set(affected))
        merged = scd2_apply_batch(
            state, batch_df, self.key_col, self.value_col, self.ts_col, self.id_col
        )
        write_version(
            merged.withColumn("bucket", self._bucket(F.col(self.key_col))),
            self.state_dir,
            batch_id,
            partition_by=["bucket"],
        )
        # prune_buckets only treats versions committed strictly BEFORE
        # this batch as superseding — the in-flight v=<batch_id> is not
        # yet checkpoint-committed, so deleting what it supersedes here
        # would lose a bucket's history on redelivery (ADVICE r5 high);
        # that pruning happens on the NEXT successful batch instead.
        prune_buckets(self.state_dir, batch_id, self.keep_versions)


__all__ = ["Scd2Stream", "scd2_apply_batch", "scd2_intervals"]
