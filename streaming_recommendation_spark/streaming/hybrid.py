"""Store-backed hybrid retrieval: the RAG SERVING read over the two
accumulated ingest-time indexes — the streaming postings store
(streaming/postings.py, lexical leg) and a doc-level hash-embedding
vector store maintained here (dense leg) — fused by reciprocal-rank
fusion, answered ENTIRELY from persisted state as-of-now. Raw text is
tokenized/embedded exactly once, at arrival; a search never rescans a
document (the q185 stored-index contract applied to the full hybrid
read). Reference analog: the serving cascade reads only precomputed
state (model_service/models.py:20-40 loads stored features/weights and
never recomputes them per request); this is that read for retrieval.

Per micro-batch (dense leg — the postings leg is
streaming/postings.py unchanged):

  1. embed the arriving documents map-side with
     features.doc_hash_embed — one zero-shuffle projection per batch
     (the q191 fused-ingest recipe at document granularity);
  2. append (id, vec) partitioned by batch_id with dynamic partition
     overwrite — a retried batch overwrites exactly its own partition
     (idempotent under at-least-once foreachBatch).

Because a document arrives WHOLE in exactly one batch, the union of
per-batch vectors IS the whole-corpus embedding table — no cross-batch
merge state. The stored vectors are exact ``array<long>`` signed
counts, so the cosine ranking from the store replays the batch query
bit-for-bit (cosine_topk_i64) — unlike the float IVF index
(streaming/vectors.py, q135/q137), which is this store's approximate
at-scale sibling for when exactness can be traded for cell pruning.

Batch twin: q209_store_hybrid_search replays a doc_id-ordered
two-batch split through BOTH stores' batch cores and is oracle-checked
against q199's oracle VERBATIM — ingest-then-hybrid-search over
ordered arrivals == the one-shot batch fusion. The real foreachBatch
carry, retry idempotence, and search-from-disk equality are pinned in
tests/test_streaming_hybrid.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.features import doc_hash_embed
from ..operators.similarity import cosine_topk_i64
from ..operators.text import bm25_rank_from_postings, rrf_fuse
from . import store as _store
from .postings import _check_id_col, read_postings


def _vectors_schema(id_col: str = "doc_id") -> str:
    return f"{id_col} bigint, vec array<bigint>, batch_id bigint"


def doc_vectors_batch(
    batch_df: DataFrame,
    n_features: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pure core shared by the streaming loop and the q209 batch twin:
    one arrival batch's (id, vec) doc embeddings — a single map-side
    projection (doc_hash_embed), zero shuffles."""
    return doc_hash_embed(
        batch_df, n_features=n_features, text_col=text_col, id_col=id_col
    )


def vectors_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    vectors_dir: str,
    n_features: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the vector-ingest loop (also directly
    callable for batch backfills)."""
    (
        doc_vectors_batch(batch_df, n_features, text_col, id_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(vectors_dir)
    )


def read_doc_vectors(
    spark: SparkSession,
    vectors_dir: str,
    id_col: str = "doc_id",
    base_dir: str | None = None,
    resolve: bool = True,
) -> DataFrame:
    """The accumulated doc-vector table (base generation plus newer
    deltas when ``base_dir`` is given). Fails fast on an ``id_col``
    that does not match the stored schema — the same ADVICE-r9 guard
    as read_postings (a mismatched name would resolve to all-NULL ids
    and silently empty every search). ``resolve`` (default True —
    VERDICT r11 #2): a re-ingested doc's stale vector resolves away
    latest-batch-per-doc at read time (tail-scoped window), so the
    dense leg never scores both copies between compactions."""
    _check_id_col(spark, vectors_dir, id_col, "read_doc_vectors", base_dir)
    if resolve:
        return _store.read_store_resolved(
            spark, vectors_dir, _vectors_schema(id_col), base_dir, [id_col]
        )
    return _store.read_store(
        spark, vectors_dir, _vectors_schema(id_col), base_dir
    )


def compact_doc_vectors(
    spark: SparkSession,
    vectors_dir: str,
    base_dir: str,
    id_col: str = "doc_id",
    upto_batch_id: int | None = None,
    tombstones: DataFrame | None = None,
) -> int | None:
    """Fold the doc-vector deltas into a compacted base generation
    (store.compact_store): latest vector per doc; ``tombstones``
    physically erases forgotten docs' vectors from the new base."""
    return _store.compact_store(
        spark,
        vectors_dir,
        base_dir,
        _vectors_schema(id_col),
        key_cols=[id_col],
        upto_batch_id=upto_batch_id,
        tombstones=tombstones,
        id_col=id_col,
    )


def hybrid_search_from_stores(
    tf: DataFrame,
    vectors: DataFrame,
    qids: DataFrame,
    id_col: str = "doc_id",
    k_leg: int = 20,
    k: int = 10,
    scale: int = 1000,
    k_rrf: int = 60,
) -> DataFrame:
    """Pure hybrid-search core over MATERIALIZED index relations —
    shared by the disk-backed read (hybrid_query) and the q209 batch
    twin. ``tf`` is the postings relation (id, term, tf); ``vectors``
    is the doc-embedding relation (id, vec). Both legs derive every
    statistic from their store (bm25_rank_from_postings /
    cosine_topk_i64); query term bags AND query vectors are fetched
    from the stores by ``qids`` — no raw text input exists here at
    all. Fusion is rrf_fuse's exact integer ppm arithmetic, so the
    result equals the one-shot batch hybrid (q199) bit-for-bit.
    Scale: qids broadcasts into both store scans; each leg is a
    bounded top-k; the fusion shuffle is |queries| x 2k rows."""
    bm = bm25_rank_from_postings(
        tf, qids, id_col=id_col, k=k_leg, scale=scale
    ).select("query_doc", id_col, F.col("rank").alias("bm25_rank"))
    qv = vectors.join(
        F.broadcast(qids), vectors[id_col] == qids["query_doc"]
    ).select("query_doc", F.col("vec").alias("__qv"))
    corpus = vectors.select(id_col, F.col("vec").alias("__cv"))
    er = cosine_topk_i64(qv, corpus, k=k_leg, id_col=id_col)
    return rrf_fuse(bm, er, id_col=id_col, k=k, k_rrf=k_rrf)


def hybrid_query(
    spark: SparkSession,
    postings_dir: str,
    vectors_dir: str,
    qids: DataFrame,
    id_col: str = "doc_id",
    k_leg: int = 20,
    k: int = 10,
    scale: int = 1000,
    tombstones: DataFrame | None = None,
    postings_base_dir: str | None = None,
    vectors_base_dir: str | None = None,
) -> DataFrame:
    """Hybrid BM25 + exact-cosine RRF top-k over the two PERSISTED
    stores as of now — the serving read. ``qids`` is a 1-column
    (query_doc) frame naming the query documents; ``id_col`` must
    match both ingests'. ``tombstones`` (optional 1-column id frame —
    the q216 deletion-propagation pattern) removes forgotten docs
    from BOTH legs before any statistic is computed: because every
    BM25 quantity (D, T, df, dl) DERIVES from the live postings,
    deletion propagates into the ranking arithmetic automatically —
    there is no stale-stats state to rebuild (q219's oracle-checked
    claim). The ``*_base_dir`` params read each store through its
    compacted base generation (store.read_store); physical erasure of
    the tombstoned bytes is compact_postings/compact_doc_vectors'
    ``tombstones`` argument — after it runs, no tombstones param is
    needed here at all (q223's oracle-checked claim).

    Cross-store generation consistency (VERDICT r11 #2): the two
    stores compact INDEPENDENTLY, so a crash between the two
    compactions leaves mixed generations (postings folded, vectors
    not, or vice versa). Both legs therefore read through
    store.read_store_resolved — upserts in the delta tail resolve
    latest-batch-per-key AT READ, making each served relation equal
    fold_deltas(full log) for ANY pair of per-store compaction
    points. Without it, a correction folded into one store but still
    double-served by the other would fuse into an answer matching NO
    single point in time. Erasure is the one crash window that needs
    caller help: keep passing ``tombstones`` here until BOTH
    compactions have folded the forget set (pinned in
    tests/test_streaming_store.py::test_mixed_generation_*)."""
    tf = read_postings(spark, postings_dir, id_col, postings_base_dir).select(
        id_col, "term", "tf"
    )
    vectors = read_doc_vectors(
        spark, vectors_dir, id_col, vectors_base_dir
    ).select(id_col, "vec")
    if tombstones is not None:
        dead = tombstones.select(id_col)
        tf = tf.join(F.broadcast(dead), id_col, "left_anti")
        vectors = vectors.join(F.broadcast(dead), id_col, "left_anti")
    return hybrid_search_from_stores(
        tf, vectors, qids, id_col=id_col, k_leg=k_leg, k=k, scale=scale
    )
