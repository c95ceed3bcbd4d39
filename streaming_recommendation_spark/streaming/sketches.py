"""Streaming mergeable sketches: bounded-state cardinality (HLL),
frequency (CMS), and quantiles (fixed-layout histogram) over an
unbounded stream, as foreachBatch pipelines.

Why this shape: exact streaming distinct/frequency/quantile state is
O(distinct keys) or O(rows) — unbounded. The sketch state is
CONSTANT-size (HLL: <= 2^p registers per group; CMS: depth x width
counters per group; histogram: <= n_bins counts per group) no matter
how much data flows, and all three merge associatively:

  HLL merge = per-(group, bucket) register MAX  (idempotent too)
  CMS merge = per-(group, row, slot) counter SUM
  histogram merge = per-(group, bin) count SUM

Per micro-batch the pipeline computes the batch's partial sketch
(one pass over the batch only), merges it with the stored state, and
writes the result as a NEW VERSION under ``state_dir/v=<batch_id>``:

  * versioned state makes redelivery idempotent for BOTH merge
    semantics — a retried batch re-reads the PREVIOUS version and
    recomputes its own, so the non-idempotent CMS addition is never
    applied twice (overwriting v=<batch_id> replaces the partial
    attempt);
  * each version is a full state snapshot, cheap because the state
    is sketch-sized (KBs), not data-sized; older versions are pruned
    beyond a retention window.

Batch twins (oracle-checked): q132_mergeable_hll_twin and
q133_mergeable_cms_twin split `events` in two, run the same
partial-merge-finalize path, and must equal the single-pass q118 /
q124 answers bit-for-bit — pinning merge EXACTNESS, the property the
streaming loop relies on. tests/test_streaming_sketches.py pins the
actual foreachBatch pipeline against the single-pass batch answer
across a multi-batch carry plus retry idempotence.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import (
    cms_counts,
    hll_from_registers,
    hll_registers,
    merge_hll_registers,
)
from .state import latest_before, prune_snapshots, version_dir, versions, write_version


class HllStreamSketch:
    """Per-group streaming distinct-count state. ``group_schema``
    overrides the DDL for non-string group columns (default: every
    group column is a string)."""

    def __init__(
        self,
        key_col: str,
        group_cols: list[str],
        p: int = 8,
        group_schema: str | None = None,
    ):
        self.key_col = key_col
        self.group_cols = list(group_cols)
        self.p = p
        self.group_schema = group_schema

    def schema(self) -> str:
        gks = self.group_schema or ", ".join(
            f"{c} string" for c in self.group_cols
        )
        return f"{gks}, __bucket bigint, __mj int"

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return hll_registers(batch_df, self.key_col, self.group_cols, self.p)

    def merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return merge_hll_registers(a, b, self.group_cols)

    def finalize(self, state: DataFrame) -> DataFrame:
        return hll_from_registers(state, self.group_cols, self.p)


class CmsStreamSketch:
    """Per-group streaming frequency state."""

    def __init__(
        self,
        key_col: str,
        group_cols: list[str] | None = None,
        width: int = 256,
        depth: int = 3,
        group_schema: str | None = None,
    ):
        self.key_col = key_col
        self.group_cols = list(group_cols or [])
        self.width = width
        self.depth = depth
        self.group_schema = group_schema

    def schema(self) -> str:
        gks = (
            self.group_schema + ", "
            if self.group_schema
            else "".join(f"{c} string, " for c in self.group_cols)
        )
        return f"{gks}row int, slot bigint, c bigint"

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return cms_counts(
            batch_df, self.key_col, self.group_cols, self.width, self.depth
        )

    def merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy(*self.group_cols, "row", "slot")
            .agg(F.sum("c").alias("c"))
        )

    def estimate(self, spark: SparkSession, state_dir: str, keys: DataFrame) -> DataFrame:
        from ..operators.sketch import cms_estimate

        return cms_estimate(
            read_sketch_state(spark, state_dir, self.schema()),
            keys,
            self.key_col,
            self.group_cols,
            self.width,
            self.depth,
        )


class HistogramStreamSketch:
    """Per-group streaming quantile state: a fixed-layout 256-bin
    histogram (operators/metrics.py histogram_* family). The bin
    LAYOUT (per-group min/max) is captured ONCE from a seed corpus —
    same fixed-quantizer contract as the IVF landmark table
    (streaming/vectors.py): partials built against different layouts
    cannot merge, so the constructor takes the layout frame and the
    caller persists it next to the state (re-derive per batch and the
    sketch silently splits). Batch values outside the seed range
    clamp to the edge bins (standard HDR-histogram behavior).

    Merge = per-(group, bin) count SUM — non-idempotent like CMS,
    made retry-safe by the versioned-snapshot state the shared
    ingest loop writes."""

    def __init__(
        self,
        value_col: str,
        group_cols: list[str],
        layout: DataFrame,
        n_bins: int = 256,
        group_schema: str | None = None,
    ):
        self.value_col = value_col
        self.group_cols = list(group_cols)
        self.layout = layout
        self.n_bins = n_bins
        self.group_schema = group_schema

    def schema(self) -> str:
        gks = self.group_schema or ", ".join(
            f"{c} string" for c in self.group_cols
        )
        return f"{gks}, __bin int, __c bigint"

    def partial(self, batch_df: DataFrame) -> DataFrame:
        from ..operators.metrics import histogram_bins

        # strict_groups: a (non-NULL) group first seen AFTER layout
        # capture fails loudly IN-PLAN (raise_error feeding the bin
        # math — no second scan of the batch) instead of silently
        # vanishing at the layout join; same fixed-quantizer contract
        # as the IVF landmark raise in streaming/vectors.py.
        # Out-of-range VALUES clamp; out-of-layout GROUPS are an
        # upstream re-seed decision; NULL-group rows drop as always.
        return histogram_bins(
            batch_df,
            self.layout,
            self.value_col,
            self.group_cols,
            self.n_bins,
            strict_groups=True,
        )

    def merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        from ..operators.metrics import merge_histogram_bins

        return merge_histogram_bins(a, b, self.group_cols)

    def finalize(self, state: DataFrame) -> DataFrame:
        from ..operators.metrics import histogram_from_bins

        return histogram_from_bins(
            state, self.layout, self.group_cols, n_bins=self.n_bins
        )


def sketch_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    sketch,
    state_dir: str,
    keep_versions: int = 3,
) -> None:
    """One micro-batch: partial -> merge with the latest PRIOR
    version -> write v=<batch_id> (full snapshot, sketch-sized).
    Directly callable for batch backfills."""
    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession
    part = sketch.partial(batch_df)
    prev_v = latest_before(state_dir, batch_id)
    if prev_v is None:
        merged = part
    else:
        try:
            prev = spark.read.schema(sketch.schema()).parquet(
                version_dir(state_dir, prev_v)
            )
        except AnalysisException:
            raise RuntimeError(
                f"sketch state v={prev_v} under {state_dir} is unreadable; "
                "refusing to silently restart the sketch from empty"
            )
        merged = sketch.merge(prev, part)
    write_version(merged, state_dir, batch_id)
    # prune_snapshots protects the newest version strictly before this
    # batch — it is the redelivery input if this batch's checkpoint
    # commit never lands (matters for keep_versions=1 and for gapped
    # backfill batch_ids; same invariant as Scd2Stream's prune).
    prune_snapshots(state_dir, batch_id, keep_versions)


def read_sketch_state(
    spark: SparkSession, state_dir: str, schema: str
) -> DataFrame:
    """The latest state snapshot (empty frame if nothing ingested)."""
    vs = versions(state_dir)
    if not vs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(version_dir(state_dir, vs[-1]))
