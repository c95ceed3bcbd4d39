"""Store-backed hybrid retrieval (streaming/hybrid.py): the real
2-batch foreachBatch ingest of BOTH stores (postings + doc vectors)
must answer the RRF hybrid search identically to the one-shot batch
fusion (q199's arithmetic), retries must be idempotent, and a wrong
id_col must fail fast rather than silently empty the search."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.features import doc_hash_embed
from streaming_recommendation_spark.operators.similarity import cosine_topk_i64
from streaming_recommendation_spark.operators.text import bm25_search, rrf_fuse
from streaming_recommendation_spark.streaming.hybrid import (
    doc_vectors_batch,
    hybrid_query,
    hybrid_search_from_stores,
    read_doc_vectors,
    vectors_ingest_batch,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.postings import (
    postings_batch,
    postings_ingest_batch,
)

BATCH0 = [(0, "x y fox"), (1, "x y z fox den"), (2, "x a b den")]
BATCH1 = [(3, "a b c fox fox"), (4, "y y y y den"), (5, "x z z c")]
DOC_SCHEMA = "doc_id bigint, text string"


def _rows(df):
    return sorted(
        (r.query_doc, r.doc_id, r.bm25_rank, r.emb_rank, r.rrf_ppm, r.rank)
        for r in df.collect()
    )


def _batch_hybrid(whole, is_query, k_leg=3, k=4):
    """The one-shot batch fusion (q199's shape) as the expected value."""
    bm = bm25_search(whole, is_query, k=k_leg, scale=1000).select(
        "query_doc", "doc_id", F.col("rank").alias("bm25_rank")
    )
    emb = doc_hash_embed(whole, n_features=64)
    qs = emb.where(is_query).select(
        F.col("doc_id").alias("query_doc"), F.col("vec").alias("__qv")
    )
    corpus = emb.select("doc_id", F.col("vec").alias("__cv"))
    er = cosine_topk_i64(qs, corpus, k=k_leg)
    return rrf_fuse(bm, er, k=k)


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


def test_union_of_batches_is_whole_corpus_vectors(spark):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    streamed = doc_vectors_batch(b0).unionByName(doc_vectors_batch(b1))
    want = sorted((r.doc_id, list(r.vec)) for r in doc_hash_embed(whole).collect())
    got = sorted((r.doc_id, list(r.vec)) for r in streamed.collect())
    assert got == want


def test_core_equals_one_shot_batch_fusion(spark):
    """The pure store core over whole-corpus relations IS the batch
    hybrid — the q209 twin identity without disk."""
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    qids = whole.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_doc")
    )
    got = hybrid_search_from_stores(
        postings_batch(whole), doc_vectors_batch(whole), qids, k_leg=3, k=4
    )
    want = _batch_hybrid(whole, F.col("doc_id") == 0, k_leg=3, k=4)
    assert _rows(got) == _rows(want)
    assert _rows(got)  # non-degenerate


def test_rrf_fuse_absent_leg_hand_computed(spark):
    """A doc present in only one leg contributes that leg's ppm alone
    and carries a NULL rank from the missing leg (the fusion's
    absent-leg path, pinned with hand-computed integers)."""
    bm = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_doc bigint, doc_id bigint, bm25_rank int"
    )
    emb = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_doc bigint, doc_id bigint, emb_rank int"
    )
    got = {
        r.doc_id: (r.bm25_rank, r.emb_rank, r.rrf_ppm, r.rank)
        for r in rrf_fuse(bm, emb, k=10).collect()
    }
    # ppm = 1000000 div (60 + rank), int64 floor division
    assert got[11] == (2, 1, 1000000 // 62 + 1000000 // 61, 1)
    assert got[10] == (1, None, 1000000 // 61, 2)
    assert got[12] == (None, 2, 1000000 // 62, 3)


def test_streaming_stores_hybrid_equals_batch_hybrid(spark, doc_dir, tmp_path):
    for sub, fold in (
        ("postings", partial(postings_ingest_batch, postings_dir=str(tmp_path / "postings"))),
        ("vectors", partial(vectors_ingest_batch, vectors_dir=str(tmp_path / "vectors"))),
    ):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
            .json(doc_dir)
        )
        q = start_fold(stream, fold, str(tmp_path / f"ckpt_{sub}"))
        q.awaitTermination(180)

    vec = read_doc_vectors(spark, str(tmp_path / "vectors"))
    assert vec.select("batch_id").distinct().count() == 2  # real carry
    assert vec.count() == len(BATCH0 + BATCH1)

    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    qids = whole.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_doc")
    )
    from_disk = hybrid_query(
        spark,
        str(tmp_path / "postings"),
        str(tmp_path / "vectors"),
        qids,
        k_leg=3,
        k=4,
    )
    want = _batch_hybrid(whole, F.col("doc_id") == 0, k_leg=3, k=4)
    assert _rows(from_disk) == _rows(want)
    assert _rows(from_disk)


def test_vector_retry_same_batch_is_idempotent(spark, tmp_path):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    vdir = str(tmp_path / "vectors")
    vectors_ingest_batch(b0, 0, vdir)
    once = sorted(
        (r.doc_id, list(r.vec))
        for r in read_doc_vectors(spark, vdir).collect()
    )
    vectors_ingest_batch(b0, 0, vdir)  # at-least-once redelivery
    twice = sorted(
        (r.doc_id, list(r.vec))
        for r in read_doc_vectors(spark, vdir).collect()
    )
    assert once == twice
    assert len(once) == len(BATCH0)


def test_read_doc_vectors_wrong_id_col_fails_fast(spark, tmp_path):
    """ADVICE r9 guard: a mismatched id_col raises instead of
    resolving to all-NULL ids (which would silently empty every
    search downstream)."""
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    vdir = str(tmp_path / "vectors")
    vectors_ingest_batch(b0, 0, vdir)
    with pytest.raises(ValueError, match="id_col 'item_id' is not"):
        read_doc_vectors(spark, vdir, id_col="item_id")


def test_read_postings_wrong_id_col_fails_fast(spark, tmp_path):
    from streaming_recommendation_spark.streaming.postings import (
        postings_ingest_batch,
        read_postings,
    )

    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    pdir = str(tmp_path / "postings")
    postings_ingest_batch(b0, 0, pdir)
    with pytest.raises(ValueError, match="id_col 'item_id' is not"):
        read_postings(spark, pdir, id_col="item_id")


def test_tombstoned_hybrid_excludes_doc_and_corrects_stats(spark, tmp_path):
    """Deletion propagation through the serving read: a tombstoned
    doc (a) is never retrieved, and (b) stops contributing to the
    corpus statistics — the result equals a FULL recompute over the
    corpus without it (stats self-correct because D/T/df/dl all
    derive from the live postings)."""
    from streaming_recommendation_spark.streaming.hybrid import (
        vectors_ingest_batch,
    )
    from streaming_recommendation_spark.streaming.postings import (
        postings_ingest_batch,
    )

    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    pdir, vdir = str(tmp_path / "postings"), str(tmp_path / "vectors")
    postings_ingest_batch(whole, 0, pdir)
    vectors_ingest_batch(whole, 0, vdir)

    qids = whole.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_doc")
    )
    forget = spark.createDataFrame([(4,)], "doc_id bigint")
    got = hybrid_query(
        spark, pdir, vdir, qids, k_leg=3, k=4, tombstones=forget
    )
    assert all(r.doc_id != 4 for r in got.collect())
    # equality with the full recompute over corpus-minus-forgotten
    want = _batch_hybrid(
        whole.where(F.col("doc_id") != 4), F.col("doc_id") == 0, k_leg=3, k=4
    )
    assert _rows(got) == _rows(want)
    assert _rows(got)
