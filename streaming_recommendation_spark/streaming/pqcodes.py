"""Streaming PQ-codes store: continuous embedding ingest into a
product-quantized code index under FROZEN codebooks — the
RAM-residency counterpart of the float IVF store
(streaming/vectors.py), completing the streaming ANN triangle:
cells prune WHICH rows are scored (vectors.py), codes decide at what
MEMORY cost (here), and ADC serves from the codes alone
(similarity.pq_adc_from_codes).

The PQ decomposition is naturally incremental ONCE THE BOOKS ARE
FROZEN: encoding is a per-row pure function of the plan-literal
codebooks (the q193 frozen-codebook contract), so indexing a batch
never touches the stored corpus — re-encode cost ~ |new|. Like the
IVF landmark table, the books are captured ONCE from a seed corpus
and persisted NEXT TO the index; this module RAISES if the books
file is missing rather than silently re-training different books,
which would split the index across incompatible quantizers (codebook
drift is an offline rebuild decision, not a streaming concern —
q193 measures that drift).

Per micro-batch: one map-side encode projection (no shuffle, no UDF,
no join) + one batch_id-partitioned append with dynamic overwrite
(idempotent under at-least-once foreachBatch). A search reads ONLY
(id, m codes) rows — 64 floats never leave disk.

Batch twin: q215_streaming_pq_codes_twin replays a vec_id-ordered
two-batch ingest with books frozen on the first snapshot and is
oracle-checked end-to-end (frozen training + whole-corpus encode +
ADC ranked lookup-sum); the real foreachBatch leg is pinned in
tests/test_streaming_pqcodes.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import pq_adc_from_codes, pq_encode_with_books
from . import store as _store


def _codes_schema(id_col: str, m: int) -> str:
    code_cols = ", ".join(f"code_{s} int" for s in range(m))
    return f"{id_col} bigint, {code_cols}, qdist bigint, batch_id bigint"


def save_books(books: list, books_path: str) -> None:
    """Persist the frozen codebooks next to the index (JSON — they
    are k x dim/m integers per subspace, a few KB)."""
    os.makedirs(os.path.dirname(books_path) or ".", exist_ok=True)
    with open(books_path, "w") as fh:
        json.dump(books, fh)


def load_books(books_path: str) -> list:
    """Load the frozen codebooks; RAISES if absent (re-training
    in-stream would silently split the index across incompatible
    quantizers)."""
    if not os.path.exists(books_path):
        raise FileNotFoundError(
            f"PQ books file {books_path!r} not found — train once on a "
            "seed corpus (similarity.pq_train), save_books() it next to "
            "the index, and only then start the ingest. Re-training "
            "in-stream would encode batches under incompatible books."
        )
    with open(books_path) as fh:
        return json.load(fh)


def pq_codes_batch(
    batch_df: DataFrame,
    books: list,
    dim: int,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure core shared by the streaming loop and the q215 batch twin:
    one arrival batch's (id, code_0..code_{m-1}, qdist) under the
    FROZEN books — one map-side projection."""
    return pq_encode_with_books(
        batch_df, books, dim=dim, scale=scale, offset=offset,
        id_col=id_col, vec_col=vec_col,
    )


def pq_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    codes_dir: str,
    books: list,
    dim: int,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the PQ-codes ingest loop (also directly
    callable for batch backfills)."""
    (
        pq_codes_batch(batch_df, books, dim, scale, offset, id_col, vec_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(codes_dir)
    )


def read_codes(
    spark: SparkSession,
    codes_dir: str,
    m: int,
    id_col: str = "vec_id",
    base_dir: str | None = None,
    resolve: bool = True,
) -> DataFrame:
    """The accumulated codes table (base generation plus newer deltas
    when ``base_dir`` is given), with the fail-fast id_col guard.
    ADVICE r11: the guard goes through postings._check_id_col so a
    fully compacted store (delta dir emptied, data only in base_dir)
    falls back to the committed base generation's footer instead of
    raising schema-inference AnalysisException. ``resolve`` (default
    True — VERDICT r11 #2 generalized): a re-encoded vector's stale
    code row resolves away latest-batch-per-id at read time, so an
    ADC search never scores both copies between compactions; the
    resolution window covers only the delta tail."""
    from .postings import _check_id_col

    _check_id_col(spark, codes_dir, id_col, "read_codes", base_dir)
    if resolve:
        return _store.read_store_resolved(
            spark, codes_dir, _codes_schema(id_col, m), base_dir, [id_col]
        )
    return _store.read_store(
        spark, codes_dir, _codes_schema(id_col, m), base_dir
    )


def compact_codes(
    spark: SparkSession,
    codes_dir: str,
    base_dir: str,
    m: int,
    id_col: str = "vec_id",
    upto_batch_id: int | None = None,
    tombstones: DataFrame | None = None,
) -> int | None:
    """Fold the PQ-codes deltas into a compacted base generation
    (store.compact_store): latest code row per vector (a re-encoded
    vector's newest codes win — the books are frozen, so a row only
    changes when its VECTOR was re-ingested); ``tombstones``
    physically erases forgotten vectors' codes from the new base."""
    return _store.compact_store(
        spark,
        codes_dir,
        base_dir,
        _codes_schema(id_col, m),
        key_cols=[id_col],
        upto_batch_id=upto_batch_id,
        tombstones=tombstones,
        id_col=id_col,
    )


def adc_query(
    spark: SparkSession,
    codes_dir: str,
    books_path: str,
    queries: DataFrame,
    k_neighbors: int = 10,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    base_dir: str | None = None,
) -> DataFrame:
    """ADC top-k over the PERSISTED codes as of now — the serving
    read: only (id, m codes) rows leave disk; the query quantizes
    map-side and broadcasts (similarity.pq_adc_from_codes)."""
    books = load_books(books_path)
    codes = read_codes(spark, codes_dir, len(books), id_col, base_dir).select(
        id_col, *[f"code_{s}" for s in range(len(books))]
    )
    return pq_adc_from_codes(
        codes, queries, books, k_neighbors=k_neighbors, dim=dim,
        scale=scale, offset=offset, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
