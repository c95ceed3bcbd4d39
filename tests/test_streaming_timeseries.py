"""Streaming continuous aggregate (streaming/timeseries.py): the
incrementally maintained last-obs-per-bucket state must equal the
one-shot batch computation under multi-batch carry, OUT-OF-ORDER
arrival (no frontier guard — the max-merge is commutative), and
retries; the dense read must equal gap_fill_locf from scratch."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.timeseries import gap_fill_locf
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.timeseries import TimeBucketStream

SCHEMA = "user_id bigint, ts timestamp, value double"


def _t(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


# user 1: obs in hours 0, 0 (dup bucket), 3; user 2: hours 1, 2.
# Batches deliberately interleave OUT OF ORDER in event time.
ROWS = [
    (1, _t(3, 10), 30.0), (2, _t(2, 5), 22.0),    # batch 0 (late half!)
    (1, _t(0, 20), 5.0), (2, _t(1, 0), 11.0),     # batch 1 (early half)
    (1, _t(0, 45), 7.0),                          # batch 2 (older than b0)
]
BATCHES = (slice(0, 2), slice(2, 4), slice(4, 5))


def _stream(tmp_path, **kw):
    args = dict(bucket_seconds=3600, n_buckets=2)
    args.update(kw)
    return TimeBucketStream(str(tmp_path / "state"), **args)


def _dense_reference(spark):
    return {
        (r.user_id, r.bucket_start): (r.value, r.is_observed)
        for r in gap_fill_locf(
            spark.createDataFrame(ROWS, SCHEMA), "user_id", "ts", "value", 3600
        ).collect()
    }


def test_out_of_order_batches_equal_batch_computation(spark, tmp_path):
    """Batches arrive in scrambled event-time order; the max-merge
    state still equals the one-shot computation — the no-frontier
    claim, exercised on disk."""
    ts = _stream(tmp_path)
    for i in range(3):
        ts.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    got = {
        (r.user_id, r.bucket_start): (r.value, r.is_observed)
        for r in ts.dense(spark).collect()
    }
    assert got == _dense_reference(spark)
    # user 1 hour 0: the LATER obs in that bucket (00:45 -> 7.0) won,
    # even though it arrived in a later batch than nothing at all
    base = int(_t(0).replace(tzinfo=dt.timezone.utc).timestamp())
    assert got[(1, base)] == (7.0, True)
    # carried hours 1 and 2 for user 1
    assert got[(1, base + 3600)] == (7.0, False)
    assert got[(1, base + 7200)] == (7.0, False)


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    ts = _stream(tmp_path)
    for i in range(2):
        ts.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    before = sorted(map(tuple, ts.read_obs(spark).collect()))
    # redeliver batch 1 (crash-before-commit replay)
    ts.ingest_batch(spark.createDataFrame(ROWS[BATCHES[1]], SCHEMA), 1)
    after = sorted(map(tuple, ts.read_obs(spark).collect()))
    assert before == after


def test_duplicate_delivery_across_batch_ids_is_safe(spark, tmp_path):
    """The same EVENTS delivered twice under different batch ids fold
    idempotently (max-merge): state equals the single-delivery one."""
    ts = _stream(tmp_path)
    ts.ingest_batch(spark.createDataFrame(ROWS, SCHEMA), 0)
    once = {
        (r.user_id, r.bucket_start): (r.value, r.is_observed)
        for r in ts.dense(spark).collect()
    }
    ts.ingest_batch(spark.createDataFrame(ROWS, SCHEMA), 1)
    twice = {
        (r.user_id, r.bucket_start): (r.value, r.is_observed)
        for r in ts.dense(spark).collect()
    }
    assert once == twice == _dense_reference(spark)


def test_streaming_query_end_to_end(spark, tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    for fi, s in enumerate(BATCHES):
        p = d / f"b{fi}.jsonl"
        p.write_text(
            "\n".join(
                json.dumps(
                    {
                        "user_id": r[0],
                        "ts": r[1].strftime("%Y-%m-%dT%H:%M:%S"),
                        "value": r[2],
                    }
                )
                for r in ROWS[s]
            )
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + fi * 100, now - 300 + fi * 100))
    ts = _stream(tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_fold(stream, ts.ingest_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    got = {
        (r.user_id, r.bucket_start): (r.value, r.is_observed)
        for r in ts.dense(spark).collect()
    }
    assert got == _dense_reference(spark)


def test_anomaly_read_matches_batch_after_scrambled_ingest(spark, tmp_path):
    """The alerting read (q173): rolling_anomalies over the maintained
    state equals the one-shot batch flags, after scrambled-order
    ingest PLUS a same-batch retry PLUS a full duplicate redelivery —
    the idempotent-merge contract carries through the extra window
    pass unchanged. Window small enough (3 rows, min_baseline 2) that
    the toy series exercises flagged AND unflagged points."""
    from streaming_recommendation_spark.operators.timeseries import (
        rolling_anomalies,
    )

    ts = _stream(tmp_path)
    for i in range(3):
        ts.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    ts.ingest_batch(spark.createDataFrame(ROWS[BATCHES[2]], SCHEMA), 2)  # retry
    ts.ingest_batch(spark.createDataFrame(ROWS[BATCHES[0]], SCHEMA), 3)  # dup
    kw = dict(window_rows=3, k_sigma=2, min_baseline=2)
    got = {
        (r.user_id, r.bucket_start): (r.n_baseline, r.is_anomaly)
        for r in ts.anomalies(spark, **kw).collect()
    }
    dense = gap_fill_locf(
        spark.createDataFrame(ROWS, SCHEMA), "user_id", "ts", "value", 3600
    )
    want = {
        (r.user_id, r.bucket_start): (r.n_baseline, r.is_anomaly)
        for r in rolling_anomalies(
            dense.select("user_id", "bucket_start", "value"),
            "user_id", "bucket_start", "value", **kw
        ).collect()
    }
    assert got == want
    # non-vacuous: cold-start rows exist and at least one baseline'd row
    assert any(n < 2 for n, _ in want.values())
    assert any(n >= 2 for n, _ in want.values())
