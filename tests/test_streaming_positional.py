"""Positional postings ingest (streaming/postings.py positional
variant): the real 2-batch foreachBatch run must serve BM25 +
best-passage snippets from disk identically to the one-shot batch
operator (q203's semantics), derived tf postings must equal the tf
ingest's, and retries must be idempotent."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.text import (
    best_passage,
    best_passage_from_positions,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.postings import (
    best_passage_query,
    positional_ingest_batch,
    positional_postings_batch,
    postings_batch,
    read_positional_postings,
)

# doc 0 queries; doc 1 shares a dense cluster of query terms in its
# SECOND window; doc 2 matches fewer terms spread out
BATCH0 = [
    (0, "red fox jumps over the lazy dog near the old mill river bank today"),
    (1, "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen red fox lazy dog mill river"),
]
BATCH1 = [
    (2, "the red barn stood near a river with a fox den under the floor "
        "and a dog slept outside by the gate all day long in the sun"),
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
]
DOC_SCHEMA = "doc_id bigint, text string"


def _rows(df):
    return sorted(
        (r.query_doc, r.doc_id, r.bm25_rank, r.chunk_idx, r.n_hits)
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


def test_positions_derive_exact_tf_postings(spark):
    """tf = count of positions: the positional store subsumes the tf
    store row-for-row."""
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    via_pos = (
        positional_postings_batch(whole)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    want = sorted((r.doc_id, r.term, r.tf) for r in postings_batch(whole).collect())
    got = sorted((r.doc_id, r.term, r.tf) for r in via_pos.collect())
    assert got == want


def test_from_positions_equals_batch_best_passage(spark):
    """The store core over whole-corpus positions IS q203's batch
    operator — chunk alignment included (pos div window == the
    chunker's aligned chunk_idx)."""
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    qids = whole.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_doc")
    )
    got = best_passage_from_positions(
        positional_postings_batch(whole), qids, window=16, k_docs=3
    )
    want = best_passage(whole, F.col("doc_id") == 0, window=16, k_docs=3)
    assert _rows(got) == _rows(want)
    rows = _rows(got)
    assert rows
    # doc 1's query-term cluster sits in its SECOND window — the
    # snippet selector must pick a non-zero chunk somewhere
    assert any(r[1] == 1 and r[3] == 1 for r in rows)


def test_streaming_store_serves_best_passage(spark, doc_dir, tmp_path):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
        .json(doc_dir)
    )
    q = start_fold(
        stream,
        partial(positional_ingest_batch, postings_dir=str(tmp_path / "pos")),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    idx = read_positional_postings(spark, str(tmp_path / "pos"))
    assert idx.select("batch_id").distinct().count() == 2  # real carry

    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    qids = whole.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_doc")
    )
    from_disk = best_passage_query(
        spark, str(tmp_path / "pos"), qids, window=16, k_docs=3
    )
    want = best_passage(whole, F.col("doc_id") == 0, window=16, k_docs=3)
    assert _rows(from_disk) == _rows(want)
    assert _rows(from_disk)


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    pdir = str(tmp_path / "pos")
    positional_ingest_batch(b0, 0, pdir)
    once = sorted(
        (r.doc_id, r.term, r.pos)
        for r in read_positional_postings(spark, pdir).collect()
    )
    positional_ingest_batch(b0, 0, pdir)  # at-least-once redelivery
    twice = sorted(
        (r.doc_id, r.term, r.pos)
        for r in read_positional_postings(spark, pdir).collect()
    )
    assert once == twice
    assert len(once) == positional_postings_batch(b0).count()


def test_resolved_positions_between_compactions(spark, tmp_path):
    """VERDICT r11 #2 generalized to the positional store: a corrected
    doc's stale positions would corrupt tf AND the chunk word sets —
    the resolved read (default) serves only the newest arrival."""
    from streaming_recommendation_spark.operators.text import (
        best_passage_from_positions,
    )
    from streaming_recommendation_spark.streaming.postings import (
        best_passage_query,
        positional_ingest_batch,
        read_positional_postings,
    )

    schema = "doc_id bigint, text string"
    b0 = [(0, "fox den"), (1, "fox fox fox zebra"), (2, "den zebra fox")]
    fix = [(1, "quiet lake")]  # doc 1 loses every fox
    pdir = str(tmp_path / "pos")
    positional_ingest_batch(spark.createDataFrame(b0, schema), 0, pdir)
    positional_ingest_batch(spark.createDataFrame(fix, schema), 1, pdir)
    raw = read_positional_postings(spark, pdir, resolve=False)
    assert raw.where(F.col("doc_id") == 1).count() == 6  # 4 stale + 2
    res = read_positional_postings(spark, pdir)
    assert sorted(
        (r.term, r.pos) for r in res.where(F.col("doc_id") == 1).collect()
    ) == [("lake", 1), ("quiet", 0)]
    corrected = spark.createDataFrame(
        [b0[0], fix[0], b0[2]], schema
    )
    from streaming_recommendation_spark.streaming.postings import (
        positional_postings_batch,
    )

    qids = spark.createDataFrame([(0,)], "query_doc bigint")
    want = sorted(
        map(
            tuple,
            best_passage_from_positions(
                positional_postings_batch(corrected), qids, window=16, k_docs=3
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            best_passage_query(spark, pdir, qids, window=16, k_docs=3).collect(),
        )
    )
    assert got == want
