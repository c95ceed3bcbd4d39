"""Streaming passage-salvage ingest (streaming/curation.py's salvage
composition): the doc gate admits/rejects, the passage stage salvages
partially-duplicated ADMITTED docs, and rejected docs' content never
poisons the passage index. The real 2-batch foreachBatch run must
match the q213 batch twin bit-for-bit and retries must be idempotent."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.dedup import (
    banded_signature_table,
)
from streaming_recommendation_spark.streaming.curation import (
    read_salvage_manifests,
    salvage_batch_manifest,
    salvage_ingest_batch,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold

# 16-word window shared between two ADMITTED docs (doc 2 -> doc 11):
# the passage-salvage case — 11 survives the doc gate (tails differ,
# no LSH collision) but its first window drops as a known passage
SHARED_EF = (
    "the sun rose over the hill and the light fell down on the quiet "
    "field below"
)
TAIL_E = (
    "a farmer walked out to see the morning and the dog ran beside him "
    "to the gate of the yard where the cart stood ready for town"
)
TAIL_F = (
    "two birds sat on the fence and sang while the cat watched from the "
    "step of the house near the well in the shade of the tree"
)
# 16-word window shared between a quality-REJECTED doc (3) and a later
# admitted doc (12): the rejected doc is never chunked, so 12's copy
# must read as novel — rejected content must not poison the index
SHARED_JK = (
    "when the storm came in the night the boats were tied to the old "
    "pier"
)
JUNK_TAIL = "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( )))"
TAIL_K = (
    "and the sailors slept in the inn by the fire while the rain fell "
    "on the roof and the wind blew hard across the bay all night"
)
GOOD_A = (
    "the cat and the dog were in the house with a ball and the bird "
    "was on the roof with a hat"
)

BATCH0 = [
    (1, GOOD_A),
    (2, SHARED_EF + " " + TAIL_E),
    (3, SHARED_JK + " " + JUNK_TAIL),
]
BATCH1 = [
    (11, SHARED_EF + " " + TAIL_F),
    (12, SHARED_JK + " " + TAIL_K),
    (13, GOOD_A),
]
DOC_SCHEMA = "doc_id bigint, text string"

# doc_id -> (quality_kept, is_dup, admitted,
#            n_passages, n_dup_passages, n_tokens_total, n_tokens_kept)
EXPECTED = {
    1: (1, 0, 1, 2, 0, 22, 22),
    2: (1, 0, 1, 3, 0, 43, 43),
    3: (0, 0, 0, None, None, None, None),  # junk: rejected, never chunked
    11: (1, 0, 1, 3, 1, 43, 27),  # SALVAGED: shared window drops, rest kept
    12: (1, 0, 1, 3, 0, 42, 42),  # shares only with REJECTED 3 -> novel
    13: (1, 1, 0, None, None, None, None),  # doc-level dup of 1
}


def _twin(spark):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    empty_sigs = banded_signature_table(b0.where(F.lit(False)))
    empty_hashes = b0.where(F.lit(False)).select(
        F.md5("text").alias("chunk_hash")
    )
    m0, sigs0, h0 = salvage_batch_manifest(b0, empty_sigs, empty_hashes)
    m1, _, _ = salvage_batch_manifest(b1, sigs0, h0)
    return m0.unionByName(m1)


def _as_dict(rows):
    return {
        r.doc_id: (
            r.quality_kept,
            r.is_dup,
            r.admitted,
            r.n_passages,
            r.n_dup_passages,
            r.n_tokens_total,
            r.n_tokens_kept,
        )
        for r in rows
    }


def test_twin_matches_planted_structure(spark):
    assert _as_dict(_twin(spark).collect()) == EXPECTED


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
            salvage_ingest_batch,
            sig_index_dir=str(tmp_path / "sigs"),
            passage_index_dir=str(tmp_path / "phashes"),
            manifest_dir=str(tmp_path / "manifests"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = read_salvage_manifests(spark, str(tmp_path / "manifests"))
    assert got.select("batch_id").distinct().count() == 2  # real carry
    assert _as_dict(got.collect()) == EXPECTED
    # the passage index holds exactly the ADMITTED docs' distinct
    # passages: 2+3+3+3 windows, all distinct except 11's shared one
    idx = spark.read.parquet(str(tmp_path / "phashes"))
    assert idx.count() == 10
    assert idx.count() == idx.select("chunk_hash").distinct().count()


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_retry_same_batch_is_idempotent(spark, tmp_path):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    dirs = dict(
        sig_index_dir=str(tmp_path / "sigs"),
        passage_index_dir=str(tmp_path / "phashes"),
        manifest_dir=str(tmp_path / "manifests"),
    )
    salvage_ingest_batch(b0, 0, **dirs)
    salvage_ingest_batch(b1, 1, **dirs)
    once = _as_dict(read_salvage_manifests(spark, dirs["manifest_dir"]).collect())
    n_idx_once = spark.read.parquet(dirs["passage_index_dir"]).count()
    salvage_ingest_batch(b1, 1, **dirs)  # at-least-once redelivery
    twice = _as_dict(read_salvage_manifests(spark, dirs["manifest_dir"]).collect())
    assert once == twice == EXPECTED
    assert spark.read.parquet(dirs["passage_index_dir"]).count() == n_idx_once
