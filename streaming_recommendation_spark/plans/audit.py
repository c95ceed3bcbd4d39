"""Physical-plan auditing.

The engine's performance discipline: after an operator is correct,
read its plan and keep iterating until it's the plan you'd want on a
1000-executor cluster. This module turns that from eyeballing
``explain()`` output into assertable facts — tests pin them
(tests/test_plan_audit.py) so a regression that, say, un-broadcasts a
dimension join or blocks predicate pushdown fails CI, not production.

Extracted facts:
  n_exchanges          shuffle count (every Exchange is a stage boundary)
  n_broadcast_joins    dims that stayed broadcast
  n_sortmerge_joins    large-table joins
  has_window_group_limit  rank-filter top-k compiled to per-group heaps
  has_take_ordered     global top-k compiled to TakeOrderedAndProject
  pushed_filters       predicates that reached the parquet scan
  codegen_stages       whole-stage-codegen span count (JVM-compiled)
  bnl_joins            broadcast-nested-loop joins (usually a smell:
                       a non-equi join that missed its equi rewrite)
  has_dynamic_partition_pruning  fact-scan PartitionFilters carry a
                       dynamicpruning subquery from the dim side
  has_bloom_filter_pruning  runtime bloom filter probed on the fact
                       side before its shuffle (might_contain)
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(df: DataFrame) -> dict:
    plan = formatted_plan(df)
    node = lambda name: len(re.findall(rf"\(\d+\) {name}\b", plan))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "n_exchanges": node("Exchange"),
        "n_broadcast_joins": node("BroadcastHashJoin"),
        "n_sortmerge_joins": node("SortMergeJoin"),
        "n_shuffled_hash_joins": node("ShuffledHashJoin"),
        "bnl_joins": node("BroadcastNestedLoopJoin"),
        "has_window_group_limit": "WindowGroupLimit" in plan,
        "has_take_ordered": "TakeOrderedAndProject" in plan,
        # runtime row-group/partition pruning injected by the optimizer:
        # a partitioned scan whose PartitionFilters carry a subquery on
        # the other join side (DPP), and a bloom filter built from the
        # filtered build side and probed before the fact-side shuffle
        "has_dynamic_partition_pruning": "dynamicpruningexpression" in plan,
        "has_bloom_filter_pruning": "might_contain" in plan,
        "pushed_filters": [p for p in pushed if p.strip()],
        # NOTE: under AQE the pre-execution formatted plan omits
        # codegen ids; this only counts them on executed plans
        "codegen_stages": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "plan": plan,
    }


# Target bytes per partition of an iterative operator's round layout.
# A round frame's checkpoint width used to inherit
# spark.sql.shuffle.partitions (the core count locally), so every
# per-round job scheduled a core-count-wide stage over kilobyte frames
# (the 8-core bench beat the 32-core one 2-4.5x on the iterative tier).
# Sizing the layout to the frame (ceil(bytes / target), capped at
# shuffle.partitions) is scale-adaptive: at 100 TB the cap binds and
# nothing changes; at bench scale tiny round states collapse to a few
# tasks. The target is small (8 MB of materialized row bytes, a few MB
# on the wire) so real per-round work keeps its parallelism.
ROUND_TARGET_BYTES = 8 << 20


def _checkpoint_rdd(frame):
    """The JVM RDD of the localCheckpoint ``frame`` reads: the RDD of
    its analyzed plan's one ``LogicalRDD`` leaf (the frame itself when
    it is a checkpoint, or a coalesce of one). None when the frame
    reads anything else. No job."""
    leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
    if leaves.size() != 1 or leaves.head().nodeName() != "LogicalRDD":
        return None
    return leaves.head().rdd()


def _checkpoint_bytes(frame) -> int | None:
    """Bytes of the localCheckpoint RDD ``frame`` reads, from
    driver-side block-manager metadata with no job. Only that RDD is
    read, so an upstream persist the same action materialized is never
    credited. An empty frame still lists a few bytes per partition;
    None when the frame reads no checkpoint or the RDD has no cached
    blocks at all (no partitions)."""
    rdd = _checkpoint_rdd(frame)
    if rdd is None:
        return None
    jsc = frame.sparkSession.sparkContext._jsc.sc()
    for info in jsc.getRDDStorageInfo():
        if info.id() == rdd.id():
            return int(info.memSize() + info.diskSize())
    return None


# RDD name that marks the checkpoint of a keyed static side (shown in
# the storage listing too); a round sized from such a side takes its
# partition count
STATIC_SIDE = "static round side"


def _width(frame) -> int | None:
    """Partition count of a layout sized from ``frame``.

    A keyed static side (``checkpoint_partitioned(..., static=True)``)
    gives its own partition count, read off its checkpoint RDD with no
    job: a round laid out that wide by the key it joins the side on
    meets the side's layout, so the join needs no exchange. Any other
    checkpoint gives ceil(bytes / ROUND_TARGET_BYTES) clamped to
    [1, spark.sql.shuffle.partitions], so an empty round frame sizes
    the next round to width 1. None (the session default) when the
    bytes are unknown, or when ``frame`` is None."""
    rdd = None if frame is None else _checkpoint_rdd(frame)
    if rdd is not None and rdd.name() == STATIC_SIDE:
        return rdd.getNumPartitions() or None
    nbytes = None if frame is None else _checkpoint_bytes(frame)
    if nbytes is None:
        return None
    cap = int(frame.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-nbytes // ROUND_TARGET_BYTES)))


def release(frame) -> None:
    """Drop the cached blocks of the localCheckpoint ``frame`` reads
    (see ``_checkpoint_rdd``); no-op for a frame that reads none. Call
    it on a round once nothing still to be computed reads it: every
    frame over that checkpoint fails when it next runs."""
    rdd = _checkpoint_rdd(frame)
    if rdd is not None:
        rdd.unpersist(False)


def _checkpoint(df, width: int | None):
    """Eager ``localCheckpoint`` with AQE off and, when ``width`` is
    given, spark.sql.shuffle.partitions = ``width``; both session
    settings are restored afterwards, also when the materialization
    fails. The only place the package changes a session setting
    mid-run."""
    sess = df.sparkSession
    old = sess.conf.get("spark.sql.adaptive.enabled")
    old_sp = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    if width is not None:
        sess.conf.set("spark.sql.shuffle.partitions", str(int(width)))
    try:
        return df.localCheckpoint()
    finally:
        sess.conf.set("spark.sql.adaptive.enabled", old)
        sess.conf.set("spark.sql.shuffle.partitions", old_sp)


def checkpoint_partitioned(df, *keys: str, size_from=None, static: bool = False):
    """``localCheckpoint`` that KEEPS the DataFrame's hash partitioning,
    laid out by ``keys`` (no keys: the frame's own layout). The one
    materialization step of every iterative operator.

    Under AQE, ``Dataset.checkpoint`` records ``UnknownPartitioning``
    (the adaptive plan can still re-coalesce, so Spark won't promise a
    layout) and every later join against the checkpoint re-shuffles
    it. Iterative operators (PageRank, connected components) checkpoint
    a STATIC side once and join it every round; re-shuffling it per
    round is the exact cost the checkpoint was meant to avoid.
    Materializing with AQE briefly off makes the LogicalRDD carry
    ``hashpartitioning(key, n)``, so each superstep reuses the layout
    (one message shuffle per round, the Pregel shape). On a real
    cluster the equivalent durable form is a table bucketed by the
    join key (sources/layout.py).

    Width: ``size_from`` is an already-materialized frame; the layout
    (and every exchange inside the checkpointed plan) is
    ``_width(size_from)`` wide. Sized from the previous round, it
    follows that round's bytes (see ROUND_TARGET_BYTES). Sized from a
    keyed static side, it is that side's partition count, read off the
    side's checkpoint with no job: a round that every superstep joins
    against the side (PageRank's rank vector, joined to the edges on
    ``u = node``) then meets the side's layout, and the superstep's
    only shuffle is its message aggregation, which runs at the same
    width. Without ``size_from`` the session default applies.

    ``static=True`` marks a loop side joined every round: after the
    first materialization, a SMALL frame is laid out again at its own
    frame-sized width, re-shuffled by ``keys`` (or coalesced, with no
    keys), and the first materialization is released. A keyed side
    takes at least 2 partitions: a one-partition layout is recorded as
    SinglePartition, and the planner re-shuffles both sides of a keyed
    join against it (measured: ``Exchange hashpartitioning(u, 1)`` on
    the edge side and the rank vector in every PageRank round at
    width 1; at width 2 the message shuffle is the only one). Only
    when that width is at most a quarter of the session default: a
    relayout that only halves the width pays a full extra copy for
    marginal scheduling savings (measured on q102's 100 MB edge side,
    32 -> 12 partitions was a wash). At 100 TB the frame is large and
    this never fires. A keyed static side's checkpoint RDD is named
    STATIC_SIDE, which is how ``size_from`` recognizes it.

    Caveat: both settings are session-global. During the brief, eager
    materialization the session runs with AQE off and with
    spark.sql.shuffle.partitions at the layout width (often 1 for a
    small round), so a query PLANNED by a concurrent thread or stream
    in that window would also skip AQE and lay out every shuffle that
    wide. The engine's operators run checkpoints sequentially on the
    driver thread; if you embed them under a multi-threaded scheduler,
    serialize calls or use a separate SparkSession (newSession()) per
    thread.
    """
    out = _checkpoint(df.repartition(*keys) if keys else df, _width(size_from))
    if not static:
        return out
    w = _width(out)
    if w is not None and keys:
        w = max(2, w)
    if w is not None and 4 * w <= int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ):
        if not keys:
            return out.coalesce(w)
        narrow = _checkpoint(out.repartition(w, *keys), w)
        release(out)
        out = narrow
    if keys:
        _checkpoint_rdd(out).setName(STATIC_SIDE)
    return out
