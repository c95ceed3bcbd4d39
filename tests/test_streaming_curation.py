"""Streaming gate-at-ingest curation (streaming/curation.py): the
2-batch foreachBatch run must match the q187 batch twin bit-for-bit,
retries must be idempotent, and the cheap-gate-first contract must
hold (quality-failed docs are never hashed — an identical junk doc in
an earlier batch does NOT make the later one a dup)."""

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
    curation_batch_verdicts,
    curation_ingest_batch,
    read_verdicts,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold

GOOD_A = (
    "the cat and the dog were in the house with a ball and the bird "
    "was on the roof with a hat"
)
GOOD_B = (
    "this is a story about the river and the bridge where the boats "
    "were moored for the night by the old mill"
)
GOOD_C = (
    "when the rain came down the children ran into the barn and the "
    "farmer closed the gate behind them with a smile"
)
JUNK = "@@@ ### !!! $$$ %%%"

BATCH0 = [(1, GOOD_A), (2, GOOD_A), (3, GOOD_B), (4, JUNK)]
BATCH1 = [(11, GOOD_B), (12, GOOD_C), (13, JUNK), (14, GOOD_A)]
DOC_SCHEMA = "doc_id bigint, text string"

# (quality_kept, is_dup, admitted) — the planted structure:
# within-batch dup (1, 2), cross-batch dups (3 -> 11) and (1 -> 14),
# junk pair (4, 13) rejected on quality in BOTH batches and NEVER
# hashed, so 13 is not a dup despite its identical earlier copy
EXPECTED = {
    1: (1, 0, 1),
    2: (1, 1, 0),
    3: (1, 0, 1),
    4: (0, 0, 0),
    11: (1, 1, 0),
    12: (1, 0, 1),
    13: (0, 0, 0),
    14: (1, 1, 0),
}


def _twin(spark):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    empty = banded_signature_table(b0.where(F.lit(False)))
    v0, sigs0 = curation_batch_verdicts(b0, empty)
    v1, _ = curation_batch_verdicts(b1, sigs0)
    return v0.unionByName(v1)


def _as_dict(rows):
    return {r.doc_id: (r.quality_kept, r.is_dup, r.admitted) for r in rows}


def test_twin_matches_planted_structure(spark):
    got = _as_dict(_twin(spark).collect())
    assert got == EXPECTED


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
            curation_ingest_batch,
            index_dir=str(tmp_path / "index"),
            verdicts_dir=str(tmp_path / "verdicts"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    out = read_verdicts(spark, str(tmp_path / "verdicts"))
    assert out.select("batch_id").distinct().count() == 2  # real carry
    assert _as_dict(out.collect()) == EXPECTED
    # batch attribution: each doc's verdict rode its own arrival batch
    first = min(r.batch_id for r in out.select("batch_id").collect())
    b0_ids = {i for i, _ in BATCH0}
    for r in out.collect():
        assert (r.batch_id == first) == (r.doc_id in b0_ids)
    # the index holds quality-PASSING signatures only (junk never hashed)
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert set(
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    ) == {1, 2, 3, 11, 12, 14}


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    args = dict(
        index_dir=str(tmp_path / "index"),
        verdicts_dir=str(tmp_path / "verdicts"),
    )
    curation_ingest_batch(b0, 0, **args)
    once = _as_dict(read_verdicts(spark, args["verdicts_dir"]).collect())
    curation_ingest_batch(b0, 0, **args)  # at-least-once redelivery
    twice = _as_dict(read_verdicts(spark, args["verdicts_dir"]).collect())
    assert once == twice == {k: v for k, v in EXPECTED.items() if k <= 4}
    # the index did not double its rows either
    idx = spark.read.parquet(args["index_dir"])
    assert idx.count() == idx.distinct().count()
