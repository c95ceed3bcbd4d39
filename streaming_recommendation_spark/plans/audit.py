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
import os
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


# Target bytes per partition for ITERATIVE round-state layouts
# (OPTIMIZATION_r13, VERDICT r12 #1). Rationale: a round frame's
# checkpoint width used to inherit spark.sql.shuffle.partitions
# (= $SPARK_GRAFT_CPUS locally), so EVERY per-round job scheduled a
# core-count-wide stage over kilobyte frames — the 8-core bench beat
# the 32-core one 2-4.5x on the iterative tier. Sizing the layout to
# the FRAME (ceil(bytes/target), capped at shuffle.partitions) is
# scale-adaptive: at 100 TB the cap binds and nothing changes; at
# bench scale tiny round states collapse to a few tasks. The target
# is deliberately small (8 MB of materialized row bytes ~ a few MB
# on the wire) so real per-round work keeps parallelism; override
# via SPARK_GRAFT_ROUND_TARGET_BYTES.
ROUND_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_ROUND_TARGET_BYTES", str(8 << 20))
)


def _checkpoint_bytes(out) -> int | None:
    """Bytes of ``out``'s own localCheckpoint RDD — driver-side
    block-manager metadata, NO job. A checkpointed DataFrame's
    analyzed plan is a ``LogicalRDD`` over exactly that RDD, so an
    upstream persist the same action materialized is never credited.
    Returns None when the RDD holds no cached bytes (e.g. an empty
    frame — the block manager only lists RDDs with cached blocks)."""
    rdd_id = out._jdf.queryExecution().analyzed().rdd().id()
    jsc = out.sparkSession.sparkContext._jsc.sc()
    for info in jsc.getRDDStorageInfo():
        if info.id() == rdd_id:
            return int(info.memSize() + info.diskSize())
    return None


def round_width(nbytes: int | None, sess, target_bytes: int | None = None):
    """Partition count for the NEXT iterative-round layout, from the
    measured materialized bytes of the frame the round derives from:
    ceil(bytes / ROUND_TARGET_BYTES) clamped to
    [1, spark.sql.shuffle.partitions]. The cap keeps 100 TB frames at
    the session's full configured width (production sizes
    shuffle.partitions to the data); the floor keeps tiny round
    states off core-count-wide layouts. Returns None (caller keeps
    the session default) when bytes are unknown."""
    if nbytes is None or nbytes < 0:
        return None
    target = target_bytes or ROUND_TARGET_BYTES
    cap = int(sess.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, (int(nbytes) + target - 1) // target))


def checkpoint_partitioned(df, width: int | None = None,
                           return_bytes: bool = False):
    """``localCheckpoint`` that KEEPS the DataFrame's hash
    partitioning. Under AQE, ``Dataset.checkpoint`` records
    ``UnknownPartitioning`` (the adaptive plan can still re-coalesce,
    so Spark won't promise a layout) and every later join against the
    checkpoint re-shuffles it. Iterative operators (PageRank,
    connected components) checkpoint a STATIC side once and join it
    every round — re-shuffling it per round is the exact cost the
    checkpoint was meant to avoid. Materializing with AQE briefly off
    makes the LogicalRDD carry ``hashpartitioning(key, n)``, so each
    superstep reuses the layout (one message shuffle per round, the
    Pregel shape). On a real cluster the equivalent durable form is a
    table bucketed by the join key (sources/layout.py).

    ``width`` (OPTIMIZATION_r13): sets spark.sql.shuffle.partitions
    for the DURATION OF THIS MATERIALIZATION ONLY, so a bare
    ``repartition("key")`` (and any exchange inside the checkpointed
    subplan) lays the frame out ``width`` wide instead of the session
    default. Iterative operators derive it from the previous round's
    measured bytes via ``round_width`` — see ROUND_TARGET_BYTES.

    ``return_bytes=True`` additionally returns the materialized size
    in bytes (block-manager metadata, no job) as ``(df, nbytes)``;
    nbytes is None when not visible (empty frame).

    Caveat: both settings are session-global. During the (brief,
    eager) materialization the session runs with AQE off and, when
    ``width`` is given, with spark.sql.shuffle.partitions = ``width``
    (often 1 for a small round), so a query PLANNED by a concurrent
    thread/stream in that window would also skip AQE and lay out
    every shuffle ``width`` wide. The engine's operators run checkpoints
    sequentially on the driver thread; if you embed them under a
    multi-threaded scheduler, serialize calls or use a separate
    SparkSession (newSession()) per thread.
    """
    sess = df.sparkSession
    old = sess.conf.get("spark.sql.adaptive.enabled")
    old_sp = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    if width is not None:
        sess.conf.set("spark.sql.shuffle.partitions", str(int(width)))
    try:
        out = df.localCheckpoint()
    finally:
        sess.conf.set("spark.sql.adaptive.enabled", old)
        sess.conf.set("spark.sql.shuffle.partitions", old_sp)
    if return_bytes:
        return out, _checkpoint_bytes(out)
    return out


def narrow_static_layout(df, nbytes: int | None, *keys: str):
    """Re-layout an ALREADY-MATERIALIZED static loop side (edge
    list, adjacency) to a frame-sized width — but only when the
    measured frame is small enough that the relayout is provably
    cheap AND the width drastically shrinks (<= a quarter of the
    session default). Iterative operators call this right after the
    static side's first checkpoint: at 100 TB the frame is large, the
    condition never fires, and the cost is exactly one materialized
    checkpoint as before; at small scale the (bounded, <=
    shuffle.partitions/4 x ROUND_TARGET_BYTES) re-layout buys every
    subsequent round a frame-sized stage width. The 4x bar is
    deliberate: a re-layout that only halves the width pays a full
    extra copy of the frame for marginal scheduling savings (measured
    on q102's 100 MB edge side — 32 -> 12 partitions was a wash).
    Returns the input unchanged when the condition does not fire."""
    sess = df.sparkSession
    w = round_width(nbytes, sess)
    default = int(sess.conf.get("spark.sql.shuffle.partitions"))
    if w is None or 4 * w > default:
        return df
    return checkpoint_partitioned(df.repartition(w, *keys), width=w)


def local_checkpoint_measured(df):
    """Plain (AQE-on) ``localCheckpoint`` that also reports the
    materialized bytes — ``(df, nbytes | None)``. Same block-manager
    read as ``checkpoint_partitioned(return_bytes=True)``; used by
    iterative operators to size the NEXT round's layout from the
    frame they just materialized."""
    out = df.localCheckpoint()
    return out, _checkpoint_bytes(out)
