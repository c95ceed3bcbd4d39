"""Streaming target encoding (streaming/encode.py): incrementally
maintained per-category counts must equal the one-shot batch
computation under multi-batch carry and same-batch retries; the
encoding read must equal target_encode from scratch. (Additive state:
duplicate EVENTS across batch ids double-count by contract — what
must hold is batch-split exactness and retry idempotence.)"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.features import target_encode
from streaming_recommendation_spark.streaming.encode import TargetEncodeStream
from streaming_recommendation_spark.streaming.pipeline import start_fold

SCHEMA = "cat bigint, y int"

ROWS = [
    (1, 1), (2, 0),          # batch 0
    (1, 0), (3, 1), (1, 1),  # batch 1
    (2, 1),                  # batch 2 (existing category grows)
]
BATCHES = (slice(0, 2), slice(2, 5), slice(5, 6))


def _stream(tmp_path, **kw):
    args = dict(
        category_col="cat",
        target_predicate=lambda df: F.col("y") == 1,
        smoothing=2,
        n_buckets=2,
    )
    args.update(kw)
    return TargetEncodeStream(str(tmp_path / "state"), **args)


def _reference(spark):
    return {
        r.cat: (r.cnt, r.pos, r.enc)
        for r in target_encode(
            spark.createDataFrame(ROWS, SCHEMA), "cat", F.col("y") == 1, 2
        ).collect()
    }


def _enc_map(es, spark):
    return {
        r.cat: (r.cnt, r.pos, r.enc) for r in es.encoding(spark).collect()
    }


def test_multi_batch_carry_equals_batch_computation(spark, tmp_path):
    es = _stream(tmp_path)
    for i in range(3):
        es.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    got = _enc_map(es, spark)
    assert got == _reference(spark)
    # exact-rational spot check: cat 1 -> cnt 3, pos 2;
    # g_cnt=6, g_pos=4, m=2: enc = (2*6 + 2*4) / (6*(3+2)) = 20/30
    assert got[1] == (3, 2, 20 / 30)


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    es = _stream(tmp_path)
    for i in range(2):
        es.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    before = sorted(map(tuple, es.read_counts(spark).collect()))
    # crash-before-commit replay of batch 1 must not double-count
    es.ingest_batch(spark.createDataFrame(ROWS[BATCHES[1]], SCHEMA), 1)
    after = sorted(map(tuple, es.read_counts(spark).collect()))
    assert before == after


def test_untouched_bucket_carries_forward(spark, tmp_path):
    """A batch touching only some categories leaves the others at
    their older version — and the read still sees both."""
    es = _stream(tmp_path, n_buckets=8)
    es.ingest_batch(spark.createDataFrame(ROWS[BATCHES[0]], SCHEMA), 0)
    es.ingest_batch(
        spark.createDataFrame([(1, 1)], SCHEMA), 1
    )  # touches cat 1 only
    got = {r.cat: (r.cnt, r.pos) for r in es.read_counts(spark).collect()}
    assert got == {1: (2, 2), 2: (1, 0)}


def test_streaming_query_end_to_end(spark, tmp_path):
    d = tmp_path / "rows"
    d.mkdir()
    for fi, s in enumerate(BATCHES):
        p = d / f"b{fi}.jsonl"
        p.write_text(
            "\n".join(json.dumps({"cat": r[0], "y": r[1]}) for r in ROWS[s])
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + fi * 100, now - 300 + fi * 100))
    es = _stream(tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_fold(stream, es.ingest_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    assert _enc_map(es, spark) == _reference(spark)


def test_merge_category_counts_random_splits_equal_one_shot(spark):
    """Randomized split-parity for the additive state: seeded random
    row sets, random 3-way splits, random fold order — the merged
    counts equal the one-shot category_counts."""
    import random

    from streaming_recommendation_spark.operators.features import (
        category_counts,
        merge_category_counts,
    )

    rng = random.Random(4242)
    for _ in range(3):
        rows = [(rng.randrange(8), rng.randrange(2)) for _ in range(80)]
        df = spark.createDataFrame(rows, SCHEMA)
        whole = {tuple(r) for r in category_counts(df, "cat", F.col("y") == 1).collect()}
        part_of = [rng.randrange(3) for _ in rows]
        parts = []
        for j in range(3):
            sub = [r for r, p in zip(rows, part_of) if p == j]
            if sub:
                parts.append(
                    category_counts(
                        spark.createDataFrame(sub, SCHEMA), "cat", F.col("y") == 1
                    )
                )
        rng.shuffle(parts)
        merged = parts[0]
        for p in parts[1:]:
            merged = merge_category_counts(merged, p, "cat")
        assert {tuple(r) for r in merged.collect()} == whole
