"""Streaming passage-level dedup ingest: the continuous counterpart
of the batch passage dedup (operators/curation.py::passage_dedup,
q192) — every arriving document's 16-token passages are checked
against the passage-hash index AS OF ARRIVAL, under the same
foreachBatch/idempotence contract as the other ingest pipelines
(streaming/dedup.py, streaming/curation.py).

Per micro-batch:

  1. chunk the batch map-side (q92's recipe) into aligned passage
     windows with their md5 content hashes;
  2. a passage is a DUPLICATE iff its hash already exists in the
     stored index (some earlier batch emitted its first occurrence)
     or an earlier (doc_id, chunk_idx) of its OWN batch emitted it —
     the same deterministic within-batch tiebreak the curation
     ingest uses (a set-based engine has no intra-batch order;
     (doc_id, chunk_idx) is the documented stand-in, and it makes a
     doc_id-ordered batch split replay the batch operator's global
     total order EXACTLY);
  3. the per-document reconstruction manifest and the batch's NEW
     first-occurrence hashes (not already in the index — the index
     is a set and only ever grows by genuinely new passages) are
     written partitioned by batch_id with dynamic partition
     overwrite — a retried batch overwrites exactly its own
     partition (idempotent under at-least-once foreachBatch).

State shape: the index is ONE row per distinct passage hash ever
admitted — bounded by content novelty, not event volume; the
candidate check is one hash equi-join (stored side bucketed by hash
at scale). Batch twin: q196_streaming_passage_dedup replays a
doc_id-ordered two-batch split and is oracle-checked against q192's
oracle VERBATIM (the equality is the point: gate-at-ingest passage
dedup over ordered arrivals == the one-shot batch run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.curation import chunk_documents
from . import store as _store
from .state import read_or_empty as _read_or_empty

_PSIG_SCHEMA = "chunk_hash string, batch_id bigint"
_MANIFEST_SCHEMA = (
    "doc_id bigint, n_passages bigint, n_dup_passages bigint, "
    "n_tokens_total bigint, n_tokens_kept bigint, batch_id bigint"
)


def passage_batch_manifest(
    batch_df: DataFrame,
    stored_index: DataFrame,
    window: int = 16,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Pure core shared by the streaming loop and the q196 batch twin:
    returns (per-doc manifest, new first-occurrence hashes) for one
    arrival batch against the stored passage-hash index.

    The manifest columns match passage_dedup's exactly — that parity
    IS the twin contract. Scale shape: map-side chunking, one
    chunk_hash window over the BATCH (groups = the batch's duplicate
    families), one hash equi-join against the stored set, one per-doc
    groupBy."""
    ch = chunk_documents(batch_df, window, stride, text_col, id_col)
    w = Window.partitionBy("chunk_hash").orderBy(
        F.col(id_col).asc(), F.col("chunk_idx").asc()
    )
    flagged = ch.withColumn("__rn", F.row_number().over(w))
    seen = (
        stored_index.select("chunk_hash").distinct().withColumn("__hit", F.lit(1))
    )
    j = flagged.join(seen, "chunk_hash", "left")
    is_dup = (F.col("__rn") > 1) | F.col("__hit").isNotNull()
    tok = F.col("n_chunk_tokens").cast("long")
    manifest = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(is_dup.cast("long")).alias("n_dup_passages"),
        F.sum(tok).alias("n_tokens_total"),
        F.sum(F.when(~is_dup, tok).otherwise(F.lit(0).cast("long"))).alias(
            "n_tokens_kept"
        ),
    )
    new_hashes = j.where((F.col("__rn") == 1) & F.col("__hit").isNull()).select(
        "chunk_hash"
    )
    return manifest, new_hashes


def passage_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    manifest_dir: str,
    window: int = 16,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    base_dir: str | None = None,
) -> None:
    """One micro-batch of the passage-dedup ingest loop (also directly
    callable for batch backfills). ``base_dir`` reads the index
    through its compacted base generation (store.read_store); the
    retry-exclusion filter below stays correct because the base only
    ever holds batches at or below the committed generation, which is
    strictly below any in-flight batch_id."""
    spark = batch_df.sparkSession
    stored = _store.read_store(spark, index_dir, _PSIG_SCHEMA, base_dir).where(
        # a failed earlier attempt of THIS batch may have written a
        # partial partition; exclude it so the retry recomputes
        F.col("batch_id") != F.lit(batch_id)
    )
    manifest, new_hashes = passage_batch_manifest(
        batch_df, stored, window, stride, text_col, id_col
    )
    (
        manifest.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(manifest_dir)
    )
    (
        new_hashes.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(index_dir)
    )


def read_manifests(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """All per-doc manifests emitted so far."""
    return spark.read.schema(_MANIFEST_SCHEMA).parquet(manifest_dir)


def read_passage_index(
    spark: SparkSession, index_dir: str, base_dir: str | None = None
) -> DataFrame:
    """The accumulated passage-hash index (base generation plus newer
    deltas when ``base_dir`` is given)."""
    return _store.read_store(spark, index_dir, _PSIG_SCHEMA, base_dir)


def compact_passage_index(
    spark: SparkSession,
    index_dir: str,
    base_dir: str,
    upto_batch_id: int | None = None,
) -> int | None:
    """Fold the passage-hash deltas into a compacted base generation
    (store.compact_store). The index is an append-only SET — the
    ingest only ever writes genuinely new hashes — so the
    latest-batch-per-key fold is the identity on content; compaction
    here is purely about file count on the read-hot candidate-join
    path. (No tombstones param: passage hashes are content
    fingerprints shared across docs, so per-doc erasure is the
    signature/doc-store modules' job — dropping a hash another doc
    still carries would un-dedup it.)"""
    return _store.compact_store(
        spark,
        index_dir,
        base_dir,
        _PSIG_SCHEMA,
        key_cols=["chunk_hash"],
        upto_batch_id=upto_batch_id,
    )
