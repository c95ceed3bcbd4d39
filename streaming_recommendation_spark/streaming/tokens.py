"""Streaming token-accounting store: every arriving document is
tokenized ONCE, at arrival, under a FROZEN BPE tokenizer, and the
per-doc real-token counts accumulate as a persisted store — so the
packing/quota/cost reads an LLM training pipeline runs daily (q93/
q183's 2048-real-token bin manifests, per-source token budgets,
billing) answer from the store without ever rescanning text.

The frozen-artifact discipline is streaming/pqcodes.py's verbatim:
a production tokenizer is trained OFFLINE before the stream starts
(retraining it mid-stream would make token counts incomparable
across batches — the packing bins would mix units), so the merge
list persists NEXT TO the store as JSON and ``load_merges`` RAISES
if missing rather than silently re-learning a different tokenizer.

Per micro-batch: one distinct-word segmentation fold + broadcast
join (operators/bpe.py::bpe_token_stats — cost ~ the BATCH's
distinct words, not the corpus vocabulary) + one batch_id-partitioned
append with dynamic overwrite (idempotent under at-least-once
foreachBatch). Because a document arrives whole in exactly one batch,
the union of per-batch stats IS the whole-corpus token table — the
same no-merge-state argument as the postings store.

Batch twin: q228_store_packing_twin replays a doc_id-ordered
two-batch ingest and packs the accumulated counts — oracle-checked
against q183's train->tokenize->pack oracle VERBATIM. The disk leg
(real foreachBatch carry, retry idempotence, missing-merges raise,
pack-from-store equality, shared-store compaction) is pinned in
tests/test_streaming_tokens.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import bpe_token_stats
from ..operators.curation import pack_sequences
from . import store as _store


def _stats_schema(id_col: str = "doc_id") -> str:
    return (
        f"{id_col} bigint, source string, n_words bigint, "
        "n_bpe_tokens bigint, batch_id bigint"
    )


def save_merges(merges: list, merges_path: str) -> None:
    """Persist the frozen merge list next to the store (JSON — a few
    hundred string pairs)."""
    os.makedirs(os.path.dirname(merges_path) or ".", exist_ok=True)
    with open(merges_path, "w") as fh:
        json.dump([list(m) for m in merges], fh)


def load_merges(merges_path: str) -> list:
    """Load the frozen merges; RAISES if absent (re-learning
    in-stream would make token counts incomparable across batches)."""
    if not os.path.exists(merges_path):
        raise FileNotFoundError(
            f"BPE merges file {merges_path!r} not found — learn the "
            "tokenizer offline (operators/bpe.learn_bpe), save_merges() "
            "it next to the store, and only then start the ingest. "
            "Re-learning in-stream would mix token units across batches."
        )
    with open(merges_path) as fh:
        return [tuple(m) for m in json.load(fh)]


def token_stats_batch(
    batch_df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """Pure core shared by the streaming loop and the q228 batch twin:
    one arrival batch's (id, domain, n_words, n_bpe_tokens) under the
    FROZEN merges — bpe_token_stats (segmentation folds once per
    DISTINCT batch word, broadcast back) with the domain column
    riding along for the packing read."""
    stats = bpe_token_stats(batch_df, merges, text_col, id_col)
    return batch_df.select(id_col, domain_col).join(stats, id_col)


def tokens_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    stats_dir: str,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> None:
    """One micro-batch of the token-accounting loop (also directly
    callable for batch backfills)."""
    (
        token_stats_batch(batch_df, merges, text_col, id_col, domain_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(stats_dir)
    )


def read_token_stats(
    spark: SparkSession,
    stats_dir: str,
    id_col: str = "doc_id",
    base_dir: str | None = None,
    resolve: bool = True,
) -> DataFrame:
    """The accumulated token table (base generation plus newer deltas
    when ``base_dir`` is given). ``resolve`` (default True — VERDICT
    r11 #2 generalized): a re-ingested doc's stale stat row resolves
    away latest-batch-per-doc at read time, so billing/packing sums
    never double-count a corrected doc between compactions; the
    resolution window covers only the delta tail."""
    if resolve:
        return _store.read_store_resolved(
            spark, stats_dir, _stats_schema(id_col), base_dir, [id_col]
        )
    return _store.read_store(spark, stats_dir, _stats_schema(id_col), base_dir)


def compact_token_stats(
    spark: SparkSession,
    stats_dir: str,
    base_dir: str,
    id_col: str = "doc_id",
    upto_batch_id: int | None = None,
    tombstones: DataFrame | None = None,
) -> int | None:
    """Fold the token-stat deltas into a compacted base generation
    (store.compact_store): latest counts per doc (a re-ingested doc's
    newest arrival wins — counts are per-doc pure functions of the
    frozen merges, so replacement is the whole story); ``tombstones``
    physically erases forgotten docs' rows."""
    return _store.compact_store(
        spark,
        stats_dir,
        base_dir,
        _stats_schema(id_col),
        key_cols=[id_col],
        upto_batch_id=upto_batch_id,
        tombstones=tombstones,
        id_col=id_col,
    )


def pack_from_store(
    spark: SparkSession,
    stats_dir: str,
    context_len: int = 2048,
    id_col: str = "doc_id",
    domain_col: str = "source",
    base_dir: str | None = None,
) -> DataFrame:
    """The q183 per-bin training manifest answered ENTIRELY from the
    persisted token store as of now — text never rescanned, tokenizer
    never re-run: one per-domain window pass over (id, domain,
    n_words, n_bpe_tokens) rows (curation.pack_sequences)."""
    stats = read_token_stats(spark, stats_dir, id_col, base_dir).select(
        id_col, domain_col, "n_words", "n_bpe_tokens"
    )
    return pack_sequences(
        stats,
        context_len=context_len,
        token_col="n_bpe_tokens",
        domain_col=domain_col,
        id_col=id_col,
        extra_sum_cols=("n_words",),
    )
