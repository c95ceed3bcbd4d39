"""Streaming funnel (streaming/funnel.py): the incrementally
maintained per-(user, stage) firsts state must equal the one-shot
batch computation under multi-batch carry, OUT-OF-ORDER arrival (no
frontier guard — the min-merge is commutative), retries, and full
duplicate redelivery; the funnel read must equal funnel_counts from
scratch."""

from __future__ import annotations

import datetime as dt
import json
import os

from streaming_recommendation_spark.operators.funnel import funnel_counts
from streaming_recommendation_spark.streaming.funnel import FunnelStream
from streaming_recommendation_spark.streaming.pipeline import start_fold

SCHEMA = "user_id bigint, event_id bigint, ts timestamp, event_type string"
STAGES = ["view", "click", "purchase"]


def _t(d, h=0):
    return dt.datetime(2024, 1, d, h)


# user 1 converts fully in order; user 2's first click precedes its
# first view (blocked at stage 2); user 3 views only. Batches
# deliberately interleave OUT OF ORDER in event time: batch 0 carries
# the latest events, batch 2 the earliest.
ROWS = [
    (1, 5, _t(2, 6), "purchase"), (2, 6, _t(3), "click"),   # batch 0 (late)
    (1, 3, _t(2), "click"), (2, 4, _t(2), "view"),          # batch 1
    (1, 1, _t(1), "view"), (2, 2, _t(1), "click"),          # batch 2 (early!)
    (3, 7, _t(1), "view"),
]
BATCHES = (slice(0, 2), slice(2, 4), slice(4, 7))


def _stream(tmp_path, **kw):
    args = dict(stages=STAGES, step_window_seconds=86400 * 2, n_buckets=2)
    args.update(kw)
    return FunnelStream(str(tmp_path / "state"), **args)


def _reference(spark):
    return {
        r.stage: (r.stage_idx, r.users, r.conv_from_prev)
        for r in funnel_counts(
            spark.createDataFrame(ROWS, SCHEMA),
            STAGES,
            step_window_seconds=86400 * 2,
        ).collect()
    }


def _funnel_map(fs, spark):
    return {
        r.stage: (r.stage_idx, r.users, r.conv_from_prev)
        for r in fs.funnel(spark).collect()
    }


def test_out_of_order_batches_equal_batch_computation(spark, tmp_path):
    """Batches arrive in scrambled event-time order; the min-merge
    state still equals the one-shot computation — the no-frontier
    claim, exercised on disk."""
    fs = _stream(tmp_path)
    for i in range(3):
        fs.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    got = _funnel_map(fs, spark)
    assert got == _reference(spark)
    # the semantics the data encodes: user 2's first click (Jan 1)
    # precedes its first view (Jan 2), so only user 1 reaches stage 2
    assert got["view"][1] == 3
    assert got["click"][1] == 1
    assert got["purchase"][1] == 1


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    fs = _stream(tmp_path)
    for i in range(2):
        fs.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    before = sorted(map(tuple, fs.read_firsts(spark).collect()))
    # redeliver batch 1 (crash-before-commit replay)
    fs.ingest_batch(spark.createDataFrame(ROWS[BATCHES[1]], SCHEMA), 1)
    after = sorted(map(tuple, fs.read_firsts(spark).collect()))
    assert before == after


def test_duplicate_delivery_across_batch_ids_is_safe(spark, tmp_path):
    """The same EVENTS delivered twice under different batch ids fold
    idempotently (min-merge): state equals the single-delivery one."""
    fs = _stream(tmp_path)
    fs.ingest_batch(spark.createDataFrame(ROWS, SCHEMA), 0)
    once = _funnel_map(fs, spark)
    fs.ingest_batch(spark.createDataFrame(ROWS, SCHEMA), 1)
    twice = _funnel_map(fs, spark)
    assert once == twice == _reference(spark)


def test_state_is_bounded_per_user_stage(spark, tmp_path):
    """State rows never exceed |users| x |stages| no matter how many
    events fold in — the bounded-state claim."""
    fs = _stream(tmp_path)
    for i in range(3):
        fs.ingest_batch(spark.createDataFrame(ROWS[BATCHES[i]], SCHEMA), i)
    rows = fs.read_firsts(spark).collect()
    assert len(rows) == len({(r.user_id, r.stage_idx) for r in rows})
    assert len(rows) <= 3 * len(STAGES)


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
                        "event_id": r[1],
                        "ts": r[2].strftime("%Y-%m-%dT%H:%M:%S"),
                        "event_type": r[3],
                    }
                )
                for r in ROWS[s]
            )
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + fi * 100, now - 300 + fi * 100))
    fs = _stream(tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_fold(stream, fs.ingest_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    assert _funnel_map(fs, spark) == _reference(spark)
