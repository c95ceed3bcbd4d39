"""Streaming inverted-index ingest (streaming/postings.py): the real
2-batch foreachBatch run must yield postings identical to one-shot
tokenization, a BM25 search over the stored index must equal the
batch search bit-for-bit, retries must be idempotent, and the index
must answer as-of-arrival."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.text import (
    bm25_rank_from_postings,
    bm25_search,
)
from streaming_recommendation_spark.streaming.postings import (
    bm25_query,
    postings_batch,
    postings_ingest_batch,
    read_postings,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold

BATCH0 = [(0, "x y"), (1, "x y z"), (2, "x a b")]
BATCH1 = [(3, "a b c"), (4, "y y y y"), (5, "x z z")]
DOC_SCHEMA = "doc_id bigint, text string"


def _search_rows(df):
    return sorted(
        (r.query_doc, r.doc_id, r.n_terms_matched, r.score_milli, r.rank)
        for r in df.collect()
    )


@pytest.fixture()
def doc_dir(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    for name, batch, age in (("b0.jsonl", BATCH0, 200), ("b1.jsonl", BATCH1, 100)):
        p = d / name
        p.write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in batch)
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - age, now - age))
    return str(d)


def test_union_of_batches_is_whole_corpus_postings(spark):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    streamed = postings_batch(b0).unionByName(postings_batch(b1))
    want = sorted((r.doc_id, r.term, r.tf) for r in postings_batch(whole).collect())
    got = sorted((r.doc_id, r.term, r.tf) for r in streamed.collect())
    assert got == want


def test_streaming_index_search_equals_batch_search(spark, doc_dir, tmp_path):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
        .json(doc_dir)
    )
    q = start_fold(
        stream,
        partial(postings_ingest_batch, postings_dir=str(tmp_path / "postings")),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    idx = read_postings(spark, str(tmp_path / "postings"))
    assert idx.select("batch_id").distinct().count() == 2  # real carry
    # one row per distinct (doc, term)
    assert idx.count() == idx.select("doc_id", "term").distinct().count()

    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    qids = whole.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_doc")
    )
    from_disk = bm25_query(spark, str(tmp_path / "postings"), qids, k=10)
    batch = bm25_search(whole, F.col("doc_id") == 0, k=10)
    assert _search_rows(from_disk) == _search_rows(batch)
    assert _search_rows(from_disk)  # non-degenerate


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    pdir = str(tmp_path / "postings")
    postings_ingest_batch(b0, 0, pdir)
    once = sorted(
        (r.doc_id, r.term, r.tf) for r in read_postings(spark, pdir).collect()
    )
    postings_ingest_batch(b0, 0, pdir)  # at-least-once redelivery
    twice = sorted(
        (r.doc_id, r.term, r.tf) for r in read_postings(spark, pdir).collect()
    )
    assert once == twice
    assert len(once) == postings_batch(b0).count()


def test_search_answers_as_of_arrival(spark, tmp_path):
    """After batch 0 only, corpus statistics (D, T, df) reflect batch
    0 alone; after batch 1 the same stored index answers the full
    corpus — no rescan of batch 0's text ever happens (its rows are
    already reduced)."""
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    pdir = str(tmp_path / "postings")
    qids = b0.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_doc")
    )

    postings_ingest_batch(b0, 0, pdir)
    asof0 = _search_rows(bm25_query(spark, pdir, qids, k=10))
    want0 = _search_rows(bm25_search(b0, F.col("doc_id") == 0, k=10))
    assert asof0 == want0
    # only batch-0 docs are retrievable yet
    assert {r[1] for r in asof0} <= {i for i, _ in BATCH0}

    postings_ingest_batch(b1, 1, pdir)
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    asof1 = _search_rows(bm25_query(spark, pdir, qids, k=10))
    want1 = _search_rows(bm25_search(whole, F.col("doc_id") == 0, k=10))
    assert asof1 == want1
    assert asof0 != asof1  # the new arrivals changed the answer


def test_rank_from_postings_matches_text_path(spark):
    """bm25_search is exactly tokenize -> bm25_rank_from_postings:
    feeding the core the whole-corpus postings reproduces it."""
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    qids = whole.where(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_doc")
    )
    via_core = bm25_rank_from_postings(postings_batch(whole), qids, k=5)
    via_text = bm25_search(whole, F.col("doc_id") < 2, k=5)
    assert _search_rows(via_core) == _search_rows(via_text)
