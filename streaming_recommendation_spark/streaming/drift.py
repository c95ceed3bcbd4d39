"""Streaming distribution-drift monitor: the continuous counterpart
of the batch drift report (operators/quality.py::drift_report, q206)
— the reference snapshot's grid and bin counts are frozen ONCE, and
every arriving micro-batch's bin counts merge into the running
"current" distribution, under the same foreachBatch/idempotence
contract as the other ingest pipelines.

Per micro-batch:

  1. bin the batch map-side against the FROZEN reference grid
     (quality.bin_counts — re-deriving the grid per batch would make
     bins incomparable across time);
  2. append the batch's (bin, c) counts partitioned by batch_id with
     dynamic partition overwrite — a retried batch overwrites
     exactly its own partition (idempotent under at-least-once
     foreachBatch).

Counts are MERGEABLE int64 sums (the q132/q133 property), so the
accumulated store groupBy-summed equals the one-shot binning of
everything that arrived — which is exactly why the batch twin
(q207) can be oracle-checked against q206's oracle VERBATIM. The
drift read (drift_as_of) is the shared integer chi-square arithmetic
over (frozen ref counts, merged current counts): state is nbins
rows per batch, the read touches nbins x |batches| rows — bounded by
the monitor's resolution, not event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import bin_counts, drift_from_counts

_COUNTS_SCHEMA = "bin int, c bigint, batch_id bigint"


def drift_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    counts_dir: str,
    lohi: DataFrame,
    value_col: str,
    nbins: int = 10,
) -> None:
    """One micro-batch of the drift-monitor loop (also directly
    callable for batch backfills). ``lohi`` is the frozen 1-row
    reference grid (quality.ref_grid)."""
    (
        bin_counts(batch_df, value_col, lohi, nbins)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(counts_dir)
    )


def merged_counts(spark: SparkSession, counts_dir: str) -> DataFrame:
    """The running current-distribution counts: all batches so far,
    summed per bin (exactly the one-shot counts, by mergeability)."""
    return (
        spark.read.schema(_COUNTS_SCHEMA)
        .parquet(counts_dir)
        .groupBy("bin")
        .agg(F.sum("c").alias("c"))
    )


def drift_as_of(
    spark: SparkSession,
    counts_dir: str,
    ref_counts: DataFrame,
    nbins: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """The drift report as of now: frozen reference counts vs the
    merged arrivals — quality.drift_from_counts over nbins-row
    frames, no rescan of any raw values."""
    rc = ref_counts.withColumnRenamed("c", "c_ref")
    cc = merged_counts(spark, counts_dir).withColumnRenamed("c", "c_cur")
    return drift_from_counts(rc, cc, spark, nbins, scale)


# ---------------------------------------------------------------------------
# Categorical drift monitor (VERDICT r10 #5): the q208 chi-square's
# streaming twin. Identical shape to the numeric monitor above, with
# categories as their own bins — per-batch (category, c) counts are
# mergeable int64 sums, so the accumulated store groupBy-summed equals
# the one-shot count of everything that arrived, and the batch twin
# (q224) is oracle-checked against q208's oracle VERBATIM.
# ---------------------------------------------------------------------------

_CAT_COUNTS_SCHEMA = "category string, c bigint, batch_id bigint"


def categorical_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    counts_dir: str,
    cat_col: str,
) -> None:
    """One micro-batch of the categorical-drift loop: count the
    batch's categories map-side (quality.category_counts — one
    batch-local aggregate, NULLs dropped) and append partitioned by
    batch_id with dynamic overwrite (idempotent under at-least-once
    foreachBatch)."""
    from ..operators.quality import category_counts

    (
        category_counts(batch_df, cat_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(counts_dir)
    )


def merged_categorical_counts(
    spark: SparkSession, counts_dir: str
) -> DataFrame:
    """The running current-distribution category counts: all batches
    so far, summed per category (exactly the one-shot counts, by
    mergeability)."""
    return (
        spark.read.schema(_CAT_COUNTS_SCHEMA)
        .parquet(counts_dir)
        .groupBy("category")
        .agg(F.sum("c").alias("c"))
    )


def categorical_drift_as_of(
    spark: SparkSession,
    counts_dir: str,
    ref_counts: DataFrame,
    scale: int = 1_000_000,
) -> DataFrame:
    """The categorical drift report as of now: frozen reference
    counts vs the merged arrivals — the SAME integer chi-square
    arithmetic as the batch report
    (quality.categorical_drift_from_counts), no rescan of any raw
    events."""
    from ..operators.quality import categorical_drift_from_counts

    return categorical_drift_from_counts(
        ref_counts, merged_categorical_counts(spark, counts_dir), scale
    )
