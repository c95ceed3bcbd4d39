"""Keyed sinks for Structured Streaming micro-batches.

The reference's sink collects every micro-batch to the DRIVER and
writes Redis row-by-row (reference: deploy_datapipeline/data_pipeline/
spark_stream/consumer.py:50-70 — ``df.collect()`` at :57, per-row
``r.set`` at :67). That driver round-trip is the scalability bug this
module removes: writes happen in ``foreachPartition`` on the
executors, pipelined per partition, so sink throughput scales with
the cluster instead of the driver NIC.

Sinks implement one method, ``write_pairs(pairs)``, called PER
PARTITION on an executor with an iterator of (key, value) strings.
Idempotent keyed writes (versioned keys) + checkpointing give
effectively-once delivery (the reference is at-least-once).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterable, Iterator


class JsonlDirSink:
    """Executor-safe test sink: each partition appends its pairs as
    JSON lines to a uniquely named file under `path`. Readers take the
    last write per key (idempotent upsert semantics, like Redis SET).
    Used by the test harness as the fake Redis."""

    def __init__(self, path: str):
        self.path = path

    def write_pairs(self, pairs: Iterable[tuple[str, str]]) -> None:
        import json
        import time

        os.makedirs(self.path, exist_ok=True)
        # wall-clock ns prefix so read_all's filename sort resolves
        # last-write-wins in WRITE order across batches — a pure
        # random uuid name made cross-batch upserts of the same key
        # pick a nondeterministic winner. Within a batch a key is
        # normally written by one partition; a key two partitions of
        # one batch both write (score_batch: the same profile version
        # read from two files, each partition scoring its own rows)
        # gets a filename-order winner. Real Redis SET
        # has true last-write semantics; the test double must too.
        # time_ns is wall-clock, not strictly monotonic: an NTP
        # step-back between batches could still reorder — acceptable
        # for a same-machine test double whose batches are seconds
        # apart (monotonic_ns has per-process epochs, useless across
        # executor processes).
        fname = os.path.join(
            self.path, f"part-{time.time_ns():020d}-{uuid.uuid4().hex}.jsonl"
        )
        buf = [json.dumps({"key": k, "value": v}) for k, v in pairs]
        if buf:
            with open(fname, "w") as f:
                f.write("\n".join(buf) + "\n")

    def read_all(self) -> dict[str, str]:
        """Driver-side assertion helper: key -> last value."""
        import json

        out: dict[str, str] = {}
        if not os.path.isdir(self.path):
            return out
        for fn in sorted(os.listdir(self.path)):
            with open(os.path.join(self.path, fn)) as f:
                for line in f:
                    rec = json.loads(line)
                    out[rec["key"]] = rec["value"]
        return out


class RedisSink:
    """Pipelined Redis writer (key format parity with the reference:
    consumer.py:66 ``user_profile:{user_id}:{timestamp}``). Gated
    behind an import-try: the test container has no redis."""

    def __init__(self, url: str = "redis://localhost:6379/0", pipeline_size: int = 500):
        self.url = url
        self.pipeline_size = pipeline_size

    def write_pairs(self, pairs: Iterable[tuple[str, str]]) -> None:
        try:
            import redis  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - env without redis
            raise RuntimeError(
                "RedisSink requires the 'redis' package on executors"
            ) from e
        client = redis.Redis.from_url(self.url)
        pipe = client.pipeline(transaction=False)
        n = 0
        for k, v in pairs:
            pipe.set(k, v)
            n += 1
            if n % self.pipeline_size == 0:
                pipe.execute()
        pipe.execute()


def foreach_batch_writer(sink, key_col: str = "key", value_col: str = "value"):
    """Build a foreachBatch function that writes (key, value) pairs
    through `sink` from the EXECUTORS (foreachPartition), never
    collecting to the driver."""

    def write_batch(batch_df, batch_id: int) -> None:
        pair_df = batch_df.select(key_col, value_col)

        def write_partition(rows: Iterator) -> None:
            sink.write_pairs((r[0], r[1]) for r in rows)

        pair_df.foreachPartition(write_partition)

    return write_batch
