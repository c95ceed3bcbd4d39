"""Streaming SCD2 dimension maintenance (streaming/scd2.py): the
bucket-versioned disk pipeline must equal the batch full rebuild
across a multi-batch carry; retries must be idempotent; out-of-order
records must fail loudly."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.scd2 import (
    scd2_apply_batch,
    scd2_finalize,
    scd2_intervals,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.scd2 import Scd2Stream

SCHEMA = "user_id bigint, event_type string, ts bigint, event_id bigint"

ROWS = [
    # user 1: view-run, click-run, back to view
    (1, "view", 10, 100), (1, "view", 20, 101), (1, "click", 30, 102),
    (1, "click", 40, 103), (1, "view", 50, 104),
    # user 2: one long run crossing every batch boundary
    (2, "buy", 15, 200), (2, "buy", 35, 201), (2, "buy", 55, 202),
    # user 3: appears only in the last batch
    (3, "view", 70, 300),
]
CUTS = (25, 45)  # 3 batches: ts<25, 25<=ts<45, ts>=45


def _batches(spark):
    b0 = [r for r in ROWS if r[2] < CUTS[0]]
    b1 = [r for r in ROWS if CUTS[0] <= r[2] < CUTS[1]]
    b2 = [r for r in ROWS if r[2] >= CUTS[1]]
    return [spark.createDataFrame(b, SCHEMA) for b in (b0, b1, b2)]


def _want(spark):
    return sorted(
        map(
            tuple,
            scd2_finalize(
                scd2_intervals(spark.createDataFrame(ROWS, SCHEMA))
            ).collect(),
        ),
        key=repr,
    )


def test_disk_pipeline_matches_full_rebuild(spark, tmp_path):
    dim = Scd2Stream(str(tmp_path / "state"), n_buckets=4)
    for i, b in enumerate(_batches(spark)):
        dim.ingest_batch(b, i)
    got = sorted(map(tuple, dim.read_state(spark).collect()), key=repr)
    # read_state keeps the frontier columns; compare the public shape
    got = sorted(
        map(tuple, scd2_finalize(dim.read_state(spark)).collect()), key=repr
    )
    assert got == _want(spark)


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    dim = Scd2Stream(str(tmp_path / "state"), n_buckets=4)
    bs = _batches(spark)
    dim.ingest_batch(bs[0], 0)
    dim.ingest_batch(bs[1], 1)
    dim.ingest_batch(bs[1], 1)  # redelivery
    dim.ingest_batch(bs[2], 2)
    got = sorted(
        map(tuple, scd2_finalize(dim.read_state(spark)).collect()), key=repr
    )
    assert got == _want(spark)


def test_streaming_query_end_to_end(spark, tmp_path):
    d = tmp_path / "cdc"
    d.mkdir()
    batches = [
        [r for r in ROWS if r[2] < CUTS[0]],
        [r for r in ROWS if CUTS[0] <= r[2] < CUTS[1]],
        [r for r in ROWS if r[2] >= CUTS[1]],
    ]
    for fi, rows in enumerate(batches):
        p = d / f"b{fi}.jsonl"
        p.write_text(
            "\n".join(
                json.dumps(
                    dict(zip(("user_id", "event_type", "ts", "event_id"), r))
                )
                for r in rows
            )
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + fi * 100, now - 300 + fi * 100))
    dim = Scd2Stream(str(tmp_path / "state"), n_buckets=4)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_fold(stream, dim.ingest_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    got = sorted(
        map(tuple, scd2_finalize(dim.read_state(spark)).collect()), key=repr
    )
    assert got == _want(spark)


def test_out_of_order_raises(spark, tmp_path):
    dim = Scd2Stream(str(tmp_path / "state"), n_buckets=4)
    bs = _batches(spark)
    dim.ingest_batch(bs[0], 0)
    dim.ingest_batch(bs[1], 1)
    late = spark.createDataFrame([(1, "view", 12, 99)], SCHEMA)
    with pytest.raises(Exception, match="out-of-order"):
        dim.ingest_batch(late, 2)


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_prune_keeps_unsuperseded_buckets(spark, tmp_path):
    state = str(tmp_path / "state")
    dim = Scd2Stream(state, n_buckets=4, keep_versions=2)
    # user 3 is touched ONLY in batch 0; its bucket's v=0 state must
    # survive arbitrary pruning while other buckets advance
    dim.ingest_batch(
        spark.createDataFrame([(3, "view", 1, 1)], SCHEMA), 0
    )
    for i in range(1, 6):
        dim.ingest_batch(
            spark.createDataFrame([(1, f"t{i}", 10 * i, 100 + i)], SCHEMA), i
        )
    rows = {r["user_id"]: r for r in dim.read_state(spark).collect()}
    assert 3 in rows and rows[3]["event_type"] == "view"
    assert rows[1]["event_type"] == "t5"


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_redelivery_after_prune_window_keeps_history(spark, tmp_path):
    """ADVICE r5 (high): _prune must only treat versions committed
    strictly BEFORE the current batch as superseding. Scenario: user
    A's bucket is written only at batch 0, untouched through batches
    1..4 (other buckets), touched again at batch 5 — then batch 5 is
    REDELIVERED (crash before checkpoint commit). If batch 5's own
    in-flight version counted as superseding, its _prune would delete
    the v=0 copy (0 <= 5 - keep_versions) and the redelivery would
    merge against empty state, losing A's closed interval."""
    state = str(tmp_path / "state")
    dim = Scd2Stream(state, n_buckets=4, keep_versions=3)
    # pick filler users whose bucket differs from user 3's bucket
    b_of = {
        r["u"]: r["b"]
        for r in spark.range(1, 40)
        .select(
            F.col("id").alias("u"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4)).cast("int").alias("b"),
        )
        .collect()
    }
    a = 3
    fillers = [u for u, b in b_of.items() if b != b_of[a]][:5]
    assert len(fillers) == 5
    dim.ingest_batch(
        spark.createDataFrame([(a, "view", 10, 1), (a, "click", 20, 2)], SCHEMA), 0
    )
    for i, u in enumerate(fillers[:4], start=1):
        dim.ingest_batch(
            spark.createDataFrame([(int(u), "x", 100 + i, 10 + i)], SCHEMA), i
        )
    b5 = spark.createDataFrame([(a, "buy", 200, 50)], SCHEMA)
    dim.ingest_batch(b5, 5)
    dim.ingest_batch(b5, 5)  # at-least-once redelivery of batch 5
    got = sorted(
        map(
            tuple,
            scd2_finalize(dim.read_state(spark))
            .where(F.col("user_id") == a)
            .select("event_type", "valid_from", "valid_to")
            .collect(),
        )
    )
    assert got == [("buy", 200, None), ("click", 20, 200), ("view", 10, 20)]


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_randomized_splits_match_full_rebuild(spark):
    """Fuzz the merge step: random event sequences (heavy same-value
    runs, shared keys, interleaved ts) split at random ordered cut
    points — incremental application across 2-4 batches must equal
    the full rebuild exactly, whatever the cuts."""
    import random

    for seed in (3, 17, 52, 71, 104):
        rng = random.Random(seed)
        rows, eid = [], 0
        for ts in range(1, 120):
            for _ in range(rng.randint(0, 2)):
                rows.append(
                    (rng.randint(1, 6), rng.choice(["a", "b", "c"]), ts, eid)
                )
                eid += 1
        full = spark.createDataFrame(rows, SCHEMA)
        want = sorted(
            map(tuple, scd2_finalize(scd2_intervals(full)).collect()), key=repr
        )
        cuts = sorted(rng.sample(range(10, 110), rng.randint(1, 3)))
        bounds = [0] + cuts + [1000]
        state = None
        for i in range(len(bounds) - 1):
            chunk = [r for r in rows if bounds[i] <= r[2] < bounds[i + 1]]
            if not chunk:
                continue
            bdf = spark.createDataFrame(chunk, SCHEMA)
            state = (
                scd2_intervals(bdf)
                if state is None
                else scd2_apply_batch(state, bdf)
            )
        got = sorted(map(tuple, scd2_finalize(state).collect()), key=repr)
        assert got == want, (seed, cuts)


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_randomized_disk_pipeline_matches_full_rebuild(spark, tmp_path):
    """End-to-end randomized pin for the DISK path: random event
    sequences through Scd2Stream.ingest_batch across random ordered
    cuts (state read back from parquet each batch) must equal the
    full rebuild."""
    import random

    for seed in (8, 23):
        rng = random.Random(seed)
        rows, eid = [], 0
        for ts in range(1, 90):
            for _ in range(rng.randint(0, 2)):
                rows.append(
                    (rng.randint(1, 5), rng.choice(["a", "b", "c"]), ts, eid)
                )
                eid += 1
        full = spark.createDataFrame(rows, SCHEMA)
        want = sorted(
            map(tuple, scd2_finalize(scd2_intervals(full)).collect()), key=repr
        )
        cuts = sorted(rng.sample(range(5, 85), rng.randint(2, 4)))
        bounds = [0] + cuts + [1000]
        dim = Scd2Stream(str(tmp_path / f"state{seed}"), n_buckets=4)
        b = 0
        for i in range(len(bounds) - 1):
            chunk = [r for r in rows if bounds[i] <= r[2] < bounds[i + 1]]
            if chunk:
                dim.ingest_batch(spark.createDataFrame(chunk, SCHEMA), b)
                b += 1
        got = sorted(
            map(tuple, scd2_finalize(dim.read_state(spark)).collect()), key=repr
        )
        assert got == want, (seed, cuts)
