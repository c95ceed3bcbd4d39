"""Streaming item-CF (streaming/itemcf.py): the signed-delta pair
maintenance under window eviction must equal the batch computation
across a multi-batch carry; retries must be idempotent; out-of-order
arrival must fail loudly; an all-zero pair bucket must still write
its (empty) dir so stale counts never resurrect from an older
version."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.itemcf import (
    capped_histories,
    item_cooccurrence,
    item_counts,
    item_similarity,
)
from streaming_recommendation_spark.streaming.itemcf import ItemCfStream
from streaming_recommendation_spark.streaming.pipeline import start_fold

SCHEMA = "user_id bigint, item_id bigint, ts bigint"

# cap=2 forces evictions: u1's window walks 10,20 -> 20,30 -> 30,40;
# u2's walks 10 -> 10,40 -> 40,50. Every batch after the first both
# RETRACTS a pair and adds one.
ROWS = [
    (1, 10, 1), (1, 20, 2), (2, 10, 1),          # batch 0
    (1, 30, 3), (2, 40, 4),                      # batch 1
    (1, 40, 5), (2, 50, 6),                      # batch 2
]
BATCHES = (slice(0, 3), slice(3, 5), slice(5, 7))


def _cf(tmp_path, **kw):
    args = dict(max_items=2, n_user_buckets=2, n_pair_buckets=4)
    args.update(kw)
    return ItemCfStream(str(tmp_path / "state"), **args)


def _batches(spark):
    return [spark.createDataFrame(ROWS[s], SCHEMA) for s in BATCHES]


def _batch_reference(spark, rows):
    capped = capped_histories(
        spark.createDataFrame(rows, SCHEMA), "user_id", "item_id", "ts",
        max_items=2,
    )
    return {
        (r.item_a, r.item_b): r.pair_users
        for r in item_cooccurrence(capped, "user_id", "item_id").collect()
    }


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_multi_batch_equals_batch_computation(spark, tmp_path):
    cf = _cf(tmp_path)
    for i, b in enumerate(_batches(spark)):
        cf.ingest_batch(b, i)
    got = {
        (r.item_a, r.item_b): r.pair_users
        for r in cf.read_pair_counts(spark).collect()
        if r.pair_users > 0
    }
    assert got == _batch_reference(spark, ROWS) == {(30, 40): 1, (40, 50): 1}
    # windows state == batch capped histories (incl. recency carry)
    want_w = sorted(
        map(
            tuple,
            capped_histories(
                spark.createDataFrame(ROWS, SCHEMA),
                "user_id", "item_id", "ts",
                max_items=2, keep_recency=True,
            ).collect(),
        )
    )
    assert sorted(map(tuple, cf.read_windows(spark).collect())) == want_w


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_retry_same_batch_is_idempotent(spark, tmp_path):
    cf = _cf(tmp_path)
    bs = _batches(spark)
    cf.ingest_batch(bs[0], 0)
    cf.ingest_batch(bs[1], 1)
    cf.ingest_batch(bs[1], 1)  # redelivery after crash-before-commit
    cf.ingest_batch(bs[2], 2)
    got = {
        (r.item_a, r.item_b): r.pair_users
        for r in cf.read_pair_counts(spark).collect()
        if r.pair_users > 0
    }
    assert got == _batch_reference(spark, ROWS)


def test_out_of_order_raises(spark, tmp_path):
    cf = _cf(tmp_path)
    bs = _batches(spark)
    cf.ingest_batch(bs[0], 0)
    late = spark.createDataFrame([(1, 99, 1)], SCHEMA)  # u1 frontier is 2
    with pytest.raises(ValueError, match="out-of-order"):
        cf.ingest_batch(late, 1)


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_all_zero_bucket_writes_empty_dir_no_resurrection(spark, tmp_path):
    """(20,30) lives in pair bucket 3 (n_pair_buckets=4), (30,40) in
    bucket 0. Evicting 20 retracts the ONLY pair of bucket 3 —
    parquet's partitionBy would then skip bucket 3 entirely, leaving
    its OLDER version (with the stale count 1) live; write_version's
    ensure_buckets must materialize an empty bucket=3 dir instead."""
    cf = _cf(tmp_path)
    cf.ingest_batch(spark.createDataFrame([(1, 20, 1), (1, 30, 2)], SCHEMA), 0)
    cf.ingest_batch(spark.createDataFrame([(1, 40, 3)], SCHEMA), 1)
    # the empty superseding copy exists on disk...
    b3 = tmp_path / "state" / "pairs" / "v=1" / "bucket=3"
    assert b3.is_dir() and not any(b3.iterdir())
    # ...so the stale (20,30)=1 from v=0 never resurrects
    all_rows = {
        (r.item_a, r.item_b): r.pair_users
        for r in cf.read_pair_counts(spark).collect()
    }
    assert all_rows == {(30, 40): 1}
    assert {
        (r.item_a, r.item_b)
        for r in cf.similarity(spark).collect()
    } == {(30, 40)}
    # next batch: bucket 0's turn to go all-zero, bucket 3 positive
    cf.ingest_batch(spark.createDataFrame([(1, 50, 4)], SCHEMA), 2)
    all_rows = {
        (r.item_a, r.item_b): r.pair_users
        for r in cf.read_pair_counts(spark).collect()
    }
    assert all_rows == {(40, 50): 1}


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_similarity_matches_batch_operator(spark, tmp_path):
    cf = _cf(tmp_path)
    for i, b in enumerate(_batches(spark)):
        cf.ingest_batch(b, i)
    capped = capped_histories(
        spark.createDataFrame(ROWS, SCHEMA), "user_id", "item_id", "ts",
        max_items=2,
    )
    want = sorted(
        map(
            tuple,
            item_similarity(
                item_cooccurrence(capped, "user_id", "item_id"),
                item_counts(capped, "item_id"),
                "cosine",
            ).collect(),
        )
    )
    got = sorted(map(tuple, cf.similarity(spark, "cosine").collect()))
    assert got == want


def test_streaming_query_end_to_end(spark, tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    for fi, s in enumerate(BATCHES):
        p = d / f"b{fi}.jsonl"
        p.write_text(
            "\n".join(
                json.dumps(dict(zip(("user_id", "item_id", "ts"), r)))
                for r in ROWS[s]
            )
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + fi * 100, now - 300 + fi * 100))
    cf = _cf(tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_fold(stream, cf.ingest_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    got = {
        (r.item_a, r.item_b): r.pair_users
        for r in cf.read_pair_counts(spark).collect()
        if r.pair_users > 0
    }
    assert got == _batch_reference(spark, ROWS)
