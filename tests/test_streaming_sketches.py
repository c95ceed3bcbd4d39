"""Streaming mergeable sketches (streaming/sketches.py): multi-batch
carry must equal the single-pass batch sketch bit-for-bit; retries
must be idempotent for BOTH merge semantics (max and sum)."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.sketch import (
    cms_counts,
    hll_distinct,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.sketches import (
    CmsStreamSketch,
    HllStreamSketch,
    read_sketch_state,
    sketch_ingest_batch,
)

EV_SCHEMA = "event_type string, user_id bigint"


def _events(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
        (F.col("id") % 57).alias("user_id"),
    )


@pytest.fixture()
def event_files(tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    for fi, (lo, hi) in enumerate(((0, 400), (400, 800), (800, 1200))):
        p = d / f"f{fi}.json"
        p.write_text(
            "\n".join(
                json.dumps({"event_type": f"t{k % 3}", "user_id": k % 57})
                for k in range(lo, hi)
            )
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + fi * 100, now - 300 + fi * 100))
    return str(d)


def test_hll_stream_matches_single_pass(spark, event_files, tmp_path):
    sketch = HllStreamSketch("user_id", ["event_type"],
                             group_schema="event_type string")
    stream = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(event_files)
    )
    q = start_fold(
        stream,
        partial(sketch_ingest_batch, sketch=sketch, state_dir=str(tmp_path / "state")),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    # a real multi-batch carry happened
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3

    got = sorted(
        map(
            tuple,
            sketch.finalize(
                read_sketch_state(spark, str(tmp_path / "state"), sketch.schema())
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, hll_distinct(_events(spark, 0, 1200), "user_id",
                                ["event_type"]).collect())
    )
    assert got == want  # bit-for-bit vs the single-pass sketch


def test_cms_stream_matches_single_pass_and_retry(spark, tmp_path):
    sketch = CmsStreamSketch("user_id")
    state = str(tmp_path / "state")
    b0, b1 = _events(spark, 0, 500), _events(spark, 500, 1000)
    sketch_ingest_batch(b0, 0, sketch, state)
    sketch_ingest_batch(b1, 1, sketch, state)
    # redelivery of batch 1: the SUM merge must not double-count
    sketch_ingest_batch(b1, 1, sketch, state)

    got = sorted(
        map(tuple, read_sketch_state(spark, state, sketch.schema()).collect())
    )
    want = sorted(
        map(tuple, cms_counts(_events(spark, 0, 1000), "user_id").collect())
    )
    assert got == want

    keys = spark.createDataFrame([(k,) for k in range(0, 57, 7)], "user_id bigint")
    est = {
        r["user_id"]: r["cms_count"]
        for r in sketch.estimate(spark, state, keys).collect()
    }
    exact = {
        r["user_id"]: r["c"]
        for r in _events(spark, 0, 1000)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for k, v in est.items():
        assert v >= exact[k]  # CMS one-sided error


def test_version_pruning_keeps_retry_window(spark, tmp_path):
    sketch = HllStreamSketch("user_id", ["event_type"],
                             group_schema="event_type string")
    state = str(tmp_path / "state")
    for b in range(6):
        sketch_ingest_batch(
            _events(spark, b * 100, (b + 1) * 100), b, sketch, state, keep_versions=3
        )
    vs = sorted(
        int(n.split("=")[1]) for n in os.listdir(state) if n.startswith("v=")
    )
    assert vs == [3, 4, 5]  # pruned, but the redelivery window survives
    # retry of the newest batch after pruning still merges from v=4
    sketch_ingest_batch(_events(spark, 500, 600), 5, sketch, state, keep_versions=3)
    got = sorted(
        map(
            tuple,
            sketch.finalize(
                read_sketch_state(spark, state, sketch.schema())
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, hll_distinct(_events(spark, 0, 600), "user_id",
                                ["event_type"]).collect())
    )
    assert got == want


def test_keep_versions_1_redelivery_is_safe(spark, tmp_path):
    """prune_snapshots must protect the newest version strictly before
    the in-flight batch: with keep_versions=1, batch 1's prune would
    otherwise delete v=0 while v=1 is not yet checkpoint-committed, so
    a redelivery of batch 1 would merge against empty state and drop
    batch 0's contribution (same invariant as the SCD2 prune fix)."""
    state = str(tmp_path / "state")
    sketch = CmsStreamSketch("user_id", ["event_type"],
                             group_schema="event_type string")
    sketch_ingest_batch(_events(spark, 0, 200), 0, sketch, state,
                        keep_versions=1)
    sketch_ingest_batch(_events(spark, 200, 400), 1, sketch, state,
                        keep_versions=1)
    # crash before checkpoint commit -> batch 1 redelivered
    sketch_ingest_batch(_events(spark, 200, 400), 1, sketch, state,
                        keep_versions=1)
    got = sorted(
        map(tuple, read_sketch_state(spark, state, sketch.schema()).collect())
    )
    want = sorted(
        map(
            tuple,
            cms_counts(_events(spark, 0, 400), "user_id", ["event_type"],
                       sketch.width, sketch.depth).collect(),
        )
    )
    assert got == want


def test_histogram_stream_matches_single_pass_and_retry(spark, tmp_path):
    """Fixed-layout histogram sketch: a 3-batch carry (plus a
    redelivered middle batch — sum-merge is non-idempotent, the
    versioned state must absorb it) finalizes to exactly the
    single-pass histogram_quantiles answer, layout shared."""
    from streaming_recommendation_spark.operators.metrics import (
        histogram_layout,
        histogram_quantiles,
    )
    from streaming_recommendation_spark.streaming.sketches import (
        HistogramStreamSketch,
    )

    def vals(spark, lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
                "event_type"
            ),
            (F.pmod(F.xxhash64("id"), F.lit(10000)) / 7.0).alias("value"),
        )

    full = vals(spark, 0, 1200)
    layout = histogram_layout(full, "value", ["event_type"])
    sketch = HistogramStreamSketch(
        "value", ["event_type"], layout, group_schema="event_type string"
    )
    state = str(tmp_path / "state")
    for b, (lo, hi) in enumerate(((0, 400), (400, 800), (800, 1200))):
        sketch_ingest_batch(vals(spark, lo, hi), b, sketch, state)
    # redelivery of batch 1: recomputes from v=0, overwrites v=1 —
    # but v=2 is already the latest, so state is unchanged going
    # forward; redeliver the LAST batch too (the real retry case)
    sketch_ingest_batch(vals(spark, 800, 1200), 2, sketch, state)

    got = sorted(
        map(
            tuple,
            sketch.finalize(
                read_sketch_state(spark, state, sketch.schema())
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            histogram_quantiles(full, "value", ["event_type"]).collect(),
        )
    )
    assert got == want


def test_histogram_out_of_layout_values_clamp(spark, tmp_path):
    """A batch value outside the seed layout's range clamps to the
    edge bin instead of producing an out-of-range (negative) bin."""
    from streaming_recommendation_spark.operators.metrics import (
        histogram_bins,
    )

    layout = spark.createDataFrame(
        [("a", 10.0, 20.0)], "g string, __mn double, __mx double"
    )
    df = spark.createDataFrame(
        [("a", -5.0), ("a", 15.0), ("a", 99.0)], "g string, v double"
    )
    bins = {
        r["__bin"]: r["__c"]
        for r in histogram_bins(df, layout, "v", ["g"], n_bins=256).collect()
    }
    assert bins[0] == 1 and bins[255] == 1 and bins[128] == 1


def test_histogram_unknown_group_raises(spark, tmp_path):
    """A non-NULL group absent from the fixed layout must fail loudly
    (in-plan raise_error at execution — histogram_bins' inner join
    would otherwise silently drop the whole group; values clamp,
    groups don't). NULL-group rows drop silently in both modes: a
    NULL key could never equi-join any re-seeded layout either."""
    import pytest

    from streaming_recommendation_spark.streaming.sketches import (
        HistogramStreamSketch,
    )

    layout = spark.createDataFrame(
        [("a", 0.0, 10.0)], "g string, __mn double, __mx double"
    )
    sketch = HistogramStreamSketch("v", ["g"], layout, group_schema="g string")
    ok = spark.createDataFrame([("a", 5.0)], "g string, v double")
    assert sketch.partial(ok).count() == 1
    with_null_group = spark.createDataFrame(
        [("a", 5.0), (None, 2.0)], "g string, v double"
    )
    assert sketch.partial(with_null_group).count() == 1  # NULL g drops
    new_group = spark.createDataFrame(
        [("a", 5.0), ("b", 1.0)], "g string, v double"
    )
    with pytest.raises(Exception, match="absent from the fixed bin layout"):
        sketch.partial(new_group).count()
