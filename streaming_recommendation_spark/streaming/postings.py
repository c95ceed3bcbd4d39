"""Streaming inverted-index (postings) maintenance: the continuous
ingest counterpart of the batch BM25 leg (operators/text.py — q147
builds the impact-ordered index, q198 searches it) under the same
foreachBatch/idempotence contract as the other ingest pipelines
(streaming/passages.py, streaming/curation.py).

Per micro-batch:

  1. tokenize the arriving documents map-side and reduce them to
     their ``(doc_id, term, tf)`` postings — one (doc, term)-keyed
     aggregation over the BATCH only;
  2. append the batch's postings partitioned by batch_id with
     dynamic partition overwrite — a retried batch overwrites
     exactly its own partition (idempotent under at-least-once
     foreachBatch).

Because a document arrives WHOLE in exactly one batch (the arrival
unit is the document, the same contract as the passage/curation
ingests), the union of per-batch postings IS the whole-corpus
postings table — no cross-batch merge state at all. Every corpus
statistic BM25 needs (dl, df, T, D) derives from the accumulated
postings at query time (text.bm25_rank_from_postings), so:

  * the raw text is tokenized exactly once, at arrival;
  * a search answers over the index AS OF NOW without rescanning
    any document (the q185 stored-index contract, lexical leg);
  * the state is one row per distinct (doc, term) — bounded by
    corpus vocabulary incidence, not event volume.

Batch twin: q201_streaming_postings_twin replays a doc_id-ordered
two-batch split and is oracle-checked against q198's oracle VERBATIM
— ingest-then-search over ordered arrivals == the one-shot batch
search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import normalize_text
from . import store as _store


def _postings_schema(id_col: str = "doc_id") -> str:
    # document ids are bigint throughout the engine; the column NAME
    # follows whatever id_col the write half was given
    return f"{id_col} bigint, term string, tf bigint, batch_id bigint"


_POSTINGS_SCHEMA = _postings_schema()


def postings_batch(
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pure core shared by the streaming loop and the q201 batch twin:
    one arrival batch's ``(id, term, tf)`` postings. Map-side
    tokenization (the q147 normalization) + one batch-local
    (doc, term) aggregation."""
    return (
        batch_df.select(
            F.col(id_col),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def postings_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    postings_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the postings-ingest loop (also directly
    callable for batch backfills)."""
    (
        postings_batch(batch_df, text_col, id_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(postings_dir)
    )


def _check_id_col(
    spark, delta_dir: str, id_col: str, fn: str, base_dir: str | None = None
) -> None:
    """ADVICE r9 fail-fast guard. After a full compaction the delta
    dir may hold no parquet at all — fall back to the newest committed
    base generation's footer; if neither side has any footer yet
    (brand-new store) there is nothing to contradict and the read
    returns empty anyway."""
    from pyspark.errors import AnalysisException

    from . import store as _st

    stored = None
    try:
        stored = spark.read.parquet(delta_dir).schema.fieldNames()
    except AnalysisException:
        if base_dir is not None:
            gdir = _st.committed_gen_dir(base_dir)
            if gdir is not None:
                stored = spark.read.parquet(gdir).schema.fieldNames()
    if stored is not None and id_col not in stored:
        raise ValueError(
            f"{fn}: id_col {id_col!r} is not in the stored "
            f"schema {stored} — pass the same id_col the "
            "ingest used (a mismatched name resolves to all-NULL ids "
            "and empties every search)"
        )


def read_postings(
    spark: SparkSession,
    postings_dir: str,
    id_col: str = "doc_id",
    base_dir: str | None = None,
    resolve: bool = True,
) -> DataFrame:
    """The accumulated postings table: every delta batch, plus the
    compacted base generation when ``base_dir`` is given. Pass the
    same ``id_col`` the ingest was given — the read schema is built
    from it. ADVICE r9: a mismatched name would resolve to all-NULL
    ids under parquet name-based resolution and silently empty every
    downstream search, so this FAILS FAST against the stored footer
    schema instead of relying on the docstring.

    ``resolve`` (default True — VERDICT r11 #2 generalized): upserts
    in the delta tail resolve latest-batch-per-doc AT READ
    (store.read_store_resolved), so a re-ingested doc's stale posting
    list never double-counts into the BM25 statistics between
    compactions. The window covers only the tail (bounded by
    compact_every); pass ``resolve=False`` for the raw delta-log view
    (batch accounting, debugging)."""
    _check_id_col(spark, postings_dir, id_col, "read_postings", base_dir)
    if resolve:
        return _store.read_store_resolved(
            spark, postings_dir, _postings_schema(id_col), base_dir, [id_col]
        )
    return _store.read_store(
        spark, postings_dir, _postings_schema(id_col), base_dir
    )


def compact_postings(
    spark: SparkSession,
    postings_dir: str,
    base_dir: str,
    id_col: str = "doc_id",
    upto_batch_id: int | None = None,
    tombstones: DataFrame | None = None,
) -> int | None:
    """Fold the per-batch delta partitions into a compacted base
    generation (store.compact_store): a doc's posting list is
    replaced wholesale by its newest arrival, and ``tombstones``
    (1-column id frame) physically erases forgotten docs' rows from
    the new base's bytes — BM25 statistics self-correct because D, T,
    df and dl all derive from the live postings at query time."""
    return _store.compact_store(
        spark,
        postings_dir,
        base_dir,
        _postings_schema(id_col),
        key_cols=[id_col],
        upto_batch_id=upto_batch_id,
        tombstones=tombstones,
        id_col=id_col,
    )


def bm25_query(
    spark: SparkSession,
    postings_dir: str,
    qids: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
    scale: int = 1000,
    base_dir: str | None = None,
) -> DataFrame:
    """BM25 top-k over the PERSISTED index as of now — raw text never
    rescanned; all corpus statistics derive from the stored postings
    (text.bm25_rank_from_postings). ``qids`` is a 1-column
    (query_doc) frame naming the query documents; ``id_col`` must
    match the ingest's."""
    from ..operators.text import bm25_rank_from_postings

    tf = read_postings(spark, postings_dir, id_col, base_dir).select(
        id_col, "term", "tf"
    )
    return bm25_rank_from_postings(tf, qids, id_col=id_col, k=k, scale=scale)


# ---------------------------------------------------------------------------
# Positional postings: the Lucene positional-index variant — one store
# that supports BM25 ranking (tf = count of positions) AND snippet
# (best-passage) selection, so the SERVING read never rescans text.
# Batch twin: q214_store_best_passage (oracle = q203's verbatim).
# ---------------------------------------------------------------------------


def _positional_schema(id_col: str = "doc_id") -> str:
    return f"{id_col} bigint, term string, pos int, batch_id bigint"


def positional_postings_batch(
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One arrival batch's (id, term, pos) positional postings: pos is
    the 0-based index into the normalized word sequence (the SAME
    sequence chunk_documents slices, so pos div window == the aligned
    chunk_idx). Map-side posexplode; empty tokens dropped AFTER
    position assignment so positions always match the chunker's array
    indices."""
    return (
        batch_df.select(
            F.col(id_col),
            F.posexplode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("pos", "term"),
        )
        .where(F.col("term") != "")
        .select(id_col, "term", F.col("pos").cast("int").alias("pos"))
    )


def positional_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    postings_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the positional-postings ingest loop."""
    (
        positional_postings_batch(batch_df, text_col, id_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(postings_dir)
    )


def read_positional_postings(
    spark: SparkSession,
    postings_dir: str,
    id_col: str = "doc_id",
    base_dir: str | None = None,
    resolve: bool = True,
) -> DataFrame:
    """The accumulated positional postings (base generation plus newer
    deltas when ``base_dir`` is given), with the same fail-fast id_col
    guard and tail-scoped upsert resolution as read_postings
    (``resolve=True`` default — a re-ingested doc's stale positions
    would otherwise corrupt BOTH the tf-derived ranking and the chunk
    word sets between compactions)."""
    _check_id_col(spark, postings_dir, id_col, "read_positional_postings", base_dir)
    if resolve:
        return _store.read_store_resolved(
            spark, postings_dir, _positional_schema(id_col), base_dir,
            [id_col],
        )
    return _store.read_store(
        spark, postings_dir, _positional_schema(id_col), base_dir
    )


def compact_positional(
    spark: SparkSession,
    postings_dir: str,
    base_dir: str,
    id_col: str = "doc_id",
    upto_batch_id: int | None = None,
    tombstones: DataFrame | None = None,
) -> int | None:
    """Fold the positional-postings deltas into a compacted base
    generation — same contract as compact_postings (a doc's position
    rows are replaced wholesale by its newest arrival; tombstoned
    docs leave the stored bytes)."""
    return _store.compact_store(
        spark,
        postings_dir,
        base_dir,
        _positional_schema(id_col),
        key_cols=[id_col],
        upto_batch_id=upto_batch_id,
        tombstones=tombstones,
        id_col=id_col,
    )


def best_passage_query(
    spark: SparkSession,
    postings_dir: str,
    qids: DataFrame,
    window: int = 16,
    k_docs: int = 5,
    id_col: str = "doc_id",
    scale: int = 1000,
    base_dir: str | None = None,
) -> DataFrame:
    """BM25 top-k + best-passage snippet per retrieved doc, answered
    ENTIRELY from the persisted positional index as of now (ranking
    statistics AND chunk word sets both derive from the stored
    positions — text.best_passage_from_positions)."""
    from ..operators.text import best_passage_from_positions

    pos = read_positional_postings(
        spark, postings_dir, id_col, base_dir
    ).select(id_col, "term", "pos")
    return best_passage_from_positions(
        pos, qids, window=window, k_docs=k_docs, id_col=id_col, scale=scale
    )
