"""Streaming corpus-curation ingest: the gate-at-ingest counterpart
of the batch curation pipeline (q186) — every arriving document is
quality-scored and near-dup-checked against the signature index AS OF
ITS ARRIVAL, under the same foreachBatch/idempotence contract as the
ingest-dedup pipeline (streaming/dedup.py).

Per micro-batch (the production ordering — cheap gates first):

  1. the learned quality filter (operators/curation.py::
     model_quality_filter) scores the batch MAP-SIDE; failing docs
     are recorded with their verdict and are NEVER hashed (at 100 TB
     the quality gate is a projection, the signature pass is the
     expensive stage — gating first is the cost win);
  2. quality-passing docs are minhashed ONCE; a doc is a duplicate if
     it shares an LSH bucket with ANY quality-passing doc of an
     EARLIER batch (the stored index) or with a SMALLER-id doc of its
     OWN batch (the deterministic within-batch arrival tiebreak — a
     set-based engine has no intra-batch order, so doc_id is the
     documented stand-in; the predicate is non-recursive: a doc that
     matches only a rejected same-batch dup is still a dup, because
     the index keeps every quality-passing signature — duplicate
     evidence is never dropped);
  3. verdicts (quality_kept, is_dup, admitted) and the batch's
     signatures are written partitioned by batch_id with dynamic
     partition overwrite — a retried batch overwrites exactly its own
     partition (idempotent under at-least-once foreachBatch).

Batch twin: q187_streaming_curation_twin replays the same two-batch
arrival order as direct calls and is oracle-checked;
tests/test_streaming_curation.py pins the streaming output == twin
bit-for-bit plus retry idempotence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import model_quality_filter
from ..operators.dedup import (
    banded_signature_table,
    lsh_candidates_from_signatures,
)
from .state import read_or_empty as _read_or_empty

_SIG_SCHEMA = "doc_id bigint, band int, bucket string, batch_id bigint"
_VERDICT_SCHEMA = (
    "doc_id bigint, quality_kept int, is_dup int, admitted int, batch_id bigint"
)


def curation_batch_verdicts(
    batch_df: DataFrame,
    stored_index: DataFrame,
    threshold_milli: int = 500,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Pure core shared by the streaming loop and the q187 batch twin:
    returns (verdicts, new_signatures) for one arrival batch against
    the stored quality-passing signature index.

    verdicts: (id, quality_kept, is_dup, admitted) for EVERY batch
    doc. is_dup is 0 for quality-failed docs — they are never hashed,
    so "not evaluated" reads as not-duplicate (the doc is already
    rejected on the cheaper gate). new_signatures: the banded
    signature rows of the batch's quality-PASSING docs (dup or not —
    see module docstring), ready to append to the index.

    Scale shape: quality is one map-side projection; signatures cost
    ~ |passing| x bands; both candidate joins are (band, bucket)
    equi-joins (stored side pre-bucketed at scale); the verdict
    assembly is one left join on the id."""
    scored = model_quality_filter(
        batch_df, text_col=text_col, id_col=id_col,
        threshold_milli=threshold_milli,
    ).select(id_col, F.col("kept").alias("quality_kept"))
    passing = batch_df.join(
        scored.where(F.col("quality_kept") == 1).select(id_col), id_col
    )
    new_sigs = banded_signature_table(
        passing, num_hashes, bands, text_col, id_col, n
    )
    ext = lsh_candidates_from_signatures(new_sigs, stored_index, id_col).select(
        F.col("new_id").alias(id_col)
    )
    internal = (
        lsh_candidates_from_signatures(new_sigs, new_sigs, id_col)
        .where(F.col("existing_id") < F.col("new_id"))
        .select(F.col("new_id").alias(id_col))
    )
    dups = ext.unionByName(internal).distinct().withColumn("__d", F.lit(1))
    verdicts = (
        scored.join(dups, id_col, "left")
        .select(
            id_col,
            "quality_kept",
            F.coalesce(F.col("__d"), F.lit(0)).alias("is_dup"),
            F.when(
                (F.col("quality_kept") == 1) & F.col("__d").isNull(), F.lit(1)
            )
            .otherwise(F.lit(0))
            .alias("admitted"),
        )
    )
    return verdicts, new_sigs


def curation_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    verdicts_dir: str,
    threshold_milli: int = 500,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """One micro-batch of the curation ingest loop (also directly
    callable for batch backfills)."""
    spark = batch_df.sparkSession
    stored = (
        _read_or_empty(spark, index_dir, _SIG_SCHEMA)
        .where(
            # a failed earlier attempt of THIS batch may have written a
            # partial partition; exclude it so the retry recomputes
            F.col("batch_id") != F.lit(batch_id)
        )
        .select(id_col, "band", "bucket")
    )
    verdicts, new_sigs = curation_batch_verdicts(
        batch_df, stored, threshold_milli, num_hashes, bands, text_col,
        id_col, n,
    )
    new_sigs = new_sigs.persist()
    try:
        (
            verdicts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(verdicts_dir)
        )
        (
            new_sigs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )
    finally:
        new_sigs.unpersist()


def read_verdicts(spark: SparkSession, verdicts_dir: str) -> DataFrame:
    """All verdicts emitted so far: (doc_id, quality_kept, is_dup,
    admitted, batch_id)."""
    return spark.read.schema(_VERDICT_SCHEMA).parquet(verdicts_dir)


# ---------------------------------------------------------------------------
# Passage-salvage composition (VERDICT r9 #3): the curation gate above
# admits or drops WHOLE documents; the salvage stage runs the passage
# dedup (streaming/passages.py) over the docs the gate ADMITS, so a
# partially-duplicated admitted document is salvaged — its repeated
# passages drop, its unique remainder survives with exact kept-token
# counts for the packer. One composed manifest carries BOTH verdict
# levels per doc. Batch twin: q213_streaming_salvage_twin (oracle =
# q187's gate + q192's passage stage over the admitted set — the
# doc_id-ordered split replays both stages' global total orders).
# ---------------------------------------------------------------------------

_SALVAGE_SCHEMA = (
    "doc_id bigint, quality_kept int, is_dup int, admitted int, "
    "n_passages bigint, n_dup_passages bigint, n_tokens_total bigint, "
    "n_tokens_kept bigint, batch_id bigint"
)


def salvage_batch_manifest(
    batch_df: DataFrame,
    stored_sigs: DataFrame,
    stored_passage_hashes: DataFrame,
    threshold_milli: int = 500,
    num_hashes: int = 16,
    bands: int = 4,
    window: int = 16,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Pure core shared by the streaming loop and the q213 batch twin:
    (manifest, new_signatures, new_passage_hashes) for one arrival
    batch. The doc gate (curation_batch_verdicts — quality map-side
    FIRST, then the signature index) decides admission; ONLY admitted
    docs are chunked for the passage stage (a rejected doc's passages
    never enter the index — its content was refused entirely, so a
    later legitimate copy must not read as already-seen). Manifest =
    the gate verdict per doc, plus passage columns for admitted docs
    (NULL for rejected — not evaluated, not zero)."""
    from .passages import passage_batch_manifest

    verdicts, new_sigs = curation_batch_verdicts(
        batch_df, stored_sigs, threshold_milli, num_hashes, bands,
        text_col, id_col, n,
    )
    admitted = batch_df.join(
        verdicts.where(F.col("admitted") == 1).select(id_col), id_col
    )
    pm, new_hashes = passage_batch_manifest(
        admitted, stored_passage_hashes, window, stride, text_col, id_col
    )
    manifest = verdicts.join(pm, id_col, "left")
    return manifest, new_sigs, new_hashes


def salvage_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    sig_index_dir: str,
    passage_index_dir: str,
    manifest_dir: str,
    threshold_milli: int = 500,
    num_hashes: int = 16,
    bands: int = 4,
    window: int = 16,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """One micro-batch of the salvage ingest loop (also directly
    callable for batch backfills). Both indexes and the manifest
    write partitioned by batch_id with dynamic overwrite — a retried
    batch overwrites exactly its own partitions (idempotent under
    at-least-once foreachBatch); both index reads exclude THIS
    batch_id so a retry recomputes from clean state."""
    from .passages import _PSIG_SCHEMA

    spark = batch_df.sparkSession
    not_this = F.col("batch_id") != F.lit(batch_id)
    stored_sigs = (
        _read_or_empty(spark, sig_index_dir, _SIG_SCHEMA)
        .where(not_this)
        .select(id_col, "band", "bucket")
    )
    stored_hashes = (
        _read_or_empty(spark, passage_index_dir, _PSIG_SCHEMA)
        .where(not_this)
        .select("chunk_hash")
    )
    manifest, new_sigs, new_hashes = salvage_batch_manifest(
        batch_df, stored_sigs, stored_hashes, threshold_milli, num_hashes,
        bands, window, stride, text_col, id_col, n,
    )
    new_sigs = new_sigs.persist()
    new_hashes = new_hashes.persist()
    try:
        (
            manifest.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(manifest_dir)
        )
        (
            new_sigs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sig_index_dir)
        )
        (
            new_hashes.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(passage_index_dir)
        )
    finally:
        new_sigs.unpersist()
        new_hashes.unpersist()


def read_salvage_manifests(
    spark: SparkSession, manifest_dir: str
) -> DataFrame:
    """All salvage manifests emitted so far."""
    return spark.read.schema(_SALVAGE_SCHEMA).parquet(manifest_dir)
