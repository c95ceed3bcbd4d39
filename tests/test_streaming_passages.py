"""Streaming passage-level dedup (streaming/passages.py): the real
2-batch foreachBatch run must match the batch operator bit-for-bit
over a doc_id-ordered split, retries must be idempotent, and the
index must stay ONE row per distinct passage hash."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.curation import passage_dedup
from streaming_recommendation_spark.streaming.passages import (
    passage_batch_manifest,
    passage_ingest_batch,
    read_manifests,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold

P1 = "w1 w2 w3 w4"
P2 = "v1 v2 v3 v4"
P3 = "u1 u2 u3 u4"
P4 = "t1 t2 t3 t4"

# batch 0: P1/P2 first occurrences + an intra-batch cross-doc dup (P2)
BATCH0 = [(0, f"{P1} {P2}"), (1, f"{P2} {P3}")]
# batch 1: cross-BATCH dups (P1, P3), a new passage (P4), and an
# intra-doc repeat of the new passage inside doc 11
BATCH1 = [(10, f"{P1} {P4}"), (11, f"{P4} {P3}")]
DOC_SCHEMA = "doc_id bigint, text string"

# (n_passages, n_dup_passages, n_tokens_total, n_tokens_kept)
EXPECTED = {
    0: (2, 0, 8, 8),
    1: (2, 1, 8, 4),   # P2 dup of doc 0's
    10: (2, 1, 8, 4),  # P1 dup (cross-batch); P4 first
    11: (2, 2, 8, 0),  # P4 dup of doc 10's (same batch), P3 cross-batch
}


def _as_dict(rows):
    return {
        r.doc_id: (
            r.n_passages, r.n_dup_passages, r.n_tokens_total, r.n_tokens_kept
        )
        for r in rows
    }


def _empty_index(df):
    return df.where(F.lit(False)).select(F.md5("text").alias("chunk_hash"))


def _twin(spark):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    m0, h0 = passage_batch_manifest(b0, _empty_index(b0), window=4, stride=4)
    m1, _ = passage_batch_manifest(b1, h0, window=4, stride=4)
    return m0.unionByName(m1)


def test_twin_matches_planted_structure_and_batch_operator(spark):
    got = _as_dict(_twin(spark).collect())
    assert got == EXPECTED
    # the ordered 2-batch fold == the one-shot batch operator (the
    # q196 claim, here on the planted corpus)
    whole = spark.createDataFrame(BATCH0 + BATCH1, DOC_SCHEMA)
    assert got == _as_dict(passage_dedup(whole, window=4, stride=4).collect())


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


def test_streaming_matches_batch_twin(spark, doc_dir, tmp_path):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
        .json(doc_dir)
    )
    q = start_fold(
        stream,
        partial(
            passage_ingest_batch,
            index_dir=str(tmp_path / "index"),
            manifest_dir=str(tmp_path / "manifests"),
            window=4,
            stride=4,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    out = read_manifests(spark, str(tmp_path / "manifests"))
    assert out.select("batch_id").distinct().count() == 2  # real carry
    assert _as_dict(out.collect()) == EXPECTED
    # batch attribution: each doc's manifest rode its own arrival batch
    first = min(r.batch_id for r in out.select("batch_id").collect())
    b0_ids = {i for i, _ in BATCH0}
    for r in out.collect():
        assert (r.batch_id == first) == (r.doc_id in b0_ids)
    # the index is a SET: one row per distinct passage hash, and only
    # first occurrences were admitted (P1..P4 -> 4 rows)
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.count() == 4
    assert idx.select("chunk_hash").distinct().count() == 4


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    args = dict(
        index_dir=str(tmp_path / "index"),
        manifest_dir=str(tmp_path / "manifests"),
        window=4,
        stride=4,
    )
    passage_ingest_batch(b0, 0, **args)
    once = _as_dict(read_manifests(spark, args["manifest_dir"]).collect())
    passage_ingest_batch(b0, 0, **args)  # at-least-once redelivery
    twice = _as_dict(read_manifests(spark, args["manifest_dir"]).collect())
    assert once == twice == {k: v for k, v in EXPECTED.items() if k <= 1}
    # the redelivered batch did not re-admit its own hashes as dups,
    # and the index did not grow
    idx = spark.read.parquet(args["index_dir"])
    assert idx.count() == 3  # P1, P2, P3
