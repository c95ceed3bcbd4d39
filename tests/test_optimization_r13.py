"""OPTIMIZATION_r13 focused tests: frame-sized iterative round
layouts (VERDICT r12 #1 — width from measured bytes, never the core
count) and the measurement plumbing they ride on.

The VALUE semantics of every touched operator are pinned elsewhere
(test_suffix / test_bpe / test_graph / test_dedup brute-force parity
+ the DuckDB oracles); these tests pin the new LAYOUT machinery:
widths honored, conf restored, bytes visible, the at-scale no-op
guarantees.
"""
from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

audit_mod = importlib.import_module(
    "streaming_recommendation_spark.plans.audit"
)
from streaming_recommendation_spark.plans.audit import (  # noqa: E402
    checkpoint_partitioned,
    local_checkpoint_measured,
    narrow_static_layout,
    round_width,
)


def test_round_width_arithmetic(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # unknown bytes -> caller keeps the session default
    assert round_width(None, spark) is None
    # tiny frame -> floor 1
    assert round_width(10, spark) == 1
    # exactly one target -> 1, one byte over -> 2
    t = audit_mod.ROUND_TARGET_BYTES
    assert round_width(t, spark) == 1
    assert round_width(t + 1, spark) == 2
    # huge frame -> capped at the session width (the 100 TB behavior)
    assert round_width(10**15, spark) == cap


def test_checkpoint_width_honored_and_conf_restored(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.range(1000).selectExpr("id", "id % 7 as k")
    out, nbytes = checkpoint_partitioned(
        df.repartition("k"), width=3, return_bytes=True
    )
    assert out.rdd.getNumPartitions() == 3
    assert nbytes is not None and nbytes > 0
    # session conf untouched after the materialization
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp
    # values identical regardless of layout width
    assert out.orderBy("id").collect() == df.orderBy("id").collect()


def test_narrow_static_layout_fires_only_when_small(spark):
    df = spark.range(2000).selectExpr("id", "id % 13 as k")
    ck, nbytes = checkpoint_partitioned(
        df.repartition("k"), return_bytes=True
    )
    # tiny frame: re-layout to round_width partitions
    narrowed = narrow_static_layout(ck, nbytes, "k")
    assert narrowed.rdd.getNumPartitions() == round_width(nbytes, spark)
    # "large" frame (bytes >> target): must return the input UNCHANGED
    # — at 100 TB the relayout never runs
    assert narrow_static_layout(ck, 10**15, "k") is ck
    # unknown bytes: unchanged
    assert narrow_static_layout(ck, None, "k") is ck


def test_local_checkpoint_measured_reports_bytes(spark):
    df = spark.range(5000).selectExpr("id * 2 as v")
    out, nbytes = local_checkpoint_measured(df)
    assert nbytes is not None and nbytes > 0
    assert out.count() == 5000

    # an upstream persist the SAME action materializes gets its own
    # storage entry; the reported bytes are still exactly the
    # checkpoint's (equal to checkpointing the same rows with no
    # persist upstream), not the upstream's and not their sum
    sc = spark.sparkContext._jsc.sc()
    up = spark.range(5000).selectExpr("id", "id * 3 as w").persist()
    try:
        cached_before = {i.id() for i in sc.getRDDStorageInfo()}
        out2, nbytes2 = local_checkpoint_measured(up.selectExpr("id * 2 as v"))
        fresh = [i for i in sc.getRDDStorageInfo() if i.id() not in cached_before]
        assert len(fresh) == 2  # the upstream cache and the checkpoint
        assert nbytes2 == nbytes
        assert sorted(out2.collect()) == sorted(out.collect())
    finally:
        up.unpersist()


def test_prefix_doubling_layout_invariant(spark, monkeypatch):
    # the doubling rounds' OUTPUT is identical whether round layouts
    # are wide (target=1 byte -> width = session cap) or fully
    # collapsed (target=1 GiB -> width 1): layout is pure placement
    from streaming_recommendation_spark.operators.suffix import (
        exact_substring_duplicates,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d a b c d a b c d"),
            (2, "a b c d x y z w q r s t"),
            (3, "x y z w a b c d a b c d"),
        ],
        "doc_id long, text string",
    )

    def run(target):
        monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", target)
        return sorted(
            tuple(r) for r in exact_substring_duplicates(docs, min_len=4)
            .collect()
        )

    wide, collapsed = run(1), run(1 << 30)
    assert wide == collapsed
    # sanity: the fixture genuinely contains duplicated 4-grams
    assert any(row[3] > 0 for row in wide)  # n_dup_grams column
