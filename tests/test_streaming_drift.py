"""Streaming drift monitor (streaming/drift.py): the real 2-batch
foreachBatch run must produce the same drift report as the one-shot
batch operator, retries must be idempotent, and the monitor must
read as-of-arrival."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.quality import (
    bin_counts,
    drift_report,
    ref_grid,
)
from streaming_recommendation_spark.streaming.drift import (
    drift_as_of,
    drift_ingest_batch,
    merged_counts,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold

REF_XS = [i / 10 for i in range(100)]          # uniform over the grid
BATCH0 = [5.5] * 10 + [1.1] * 5                # skewed arrivals
BATCH1 = [9.9] * 20 + [0.0] * 5
VAL_SCHEMA = "v double"


def _vals(spark, xs):
    return spark.createDataFrame([(float(v),) for v in xs], VAL_SCHEMA)


def _rows(df):
    return sorted(
        (r.bin, r.c_ref, r.c_cur, r.drift_term) for r in df.collect()
    )


@pytest.fixture()
def val_dir(tmp_path):
    d = tmp_path / "vals"
    d.mkdir()
    for name, batch, age in (("b0.jsonl", BATCH0, 200), ("b1.jsonl", BATCH1, 100)):
        p = d / name
        p.write_text("\n".join(json.dumps({"v": v}) for v in batch) + "\n")
        now = p.stat().st_mtime
        os.utime(p, (now - age, now - age))
    return str(d)


def test_streaming_report_equals_batch_report(spark, val_dir, tmp_path):
    ref = _vals(spark, REF_XS)
    lohi = ref_grid(ref, "v")
    stream = (
        spark.readStream.schema(VAL_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
        .json(val_dir)
    )
    q = start_fold(
        stream,
        partial(
            drift_ingest_batch,
            counts_dir=str(tmp_path / "counts"),
            lohi=lohi,
            value_col="v",
            nbins=10,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    store = spark.read.parquet(str(tmp_path / "counts"))
    assert store.select("batch_id").distinct().count() == 2  # real carry

    rc = bin_counts(ref, "v", lohi, 10).withColumnRenamed("c", "c_ref")
    got = _rows(drift_as_of(spark, str(tmp_path / "counts"), rc, nbins=10))
    want = _rows(
        drift_report(ref, _vals(spark, BATCH0 + BATCH1), "v", nbins=10)
    )
    assert got == want
    assert any(t > 0 for _, _, _, t in got)  # skewed arrivals -> drift


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    ref = _vals(spark, REF_XS)
    lohi = ref_grid(ref, "v")
    cdir = str(tmp_path / "counts")
    b0 = _vals(spark, BATCH0)
    drift_ingest_batch(b0, 0, cdir, lohi, "v", 10)
    once = sorted(map(tuple, merged_counts(spark, cdir).collect()))
    drift_ingest_batch(b0, 0, cdir, lohi, "v", 10)  # redelivery
    twice = sorted(map(tuple, merged_counts(spark, cdir).collect()))
    assert once == twice
    assert sum(c for _, c in once) == len(BATCH0)


def test_monitor_reads_as_of_arrival(spark, tmp_path):
    """After batch 0 the report reflects batch 0 alone; after batch 1
    it equals the full-arrivals report — no rescan of batch 0's raw
    values ever happens (they are already reduced to counts)."""
    ref = _vals(spark, REF_XS)
    lohi = ref_grid(ref, "v")
    cdir = str(tmp_path / "counts")
    rc = bin_counts(ref, "v", lohi, 10).withColumnRenamed("c", "c_ref")

    drift_ingest_batch(_vals(spark, BATCH0), 0, cdir, lohi, "v", 10)
    asof0 = _rows(drift_as_of(spark, cdir, rc, nbins=10))
    want0 = _rows(drift_report(ref, _vals(spark, BATCH0), "v", nbins=10))
    assert asof0 == want0

    drift_ingest_batch(_vals(spark, BATCH1), 1, cdir, lohi, "v", 10)
    asof1 = _rows(drift_as_of(spark, cdir, rc, nbins=10))
    want1 = _rows(
        drift_report(ref, _vals(spark, BATCH0 + BATCH1), "v", nbins=10)
    )
    assert asof1 == want1
    assert asof0 != asof1


# ---------------------------------------------------------------------------
# categorical leg (VERDICT r10 #5, q224)

CAT_REF = ["click"] * 50 + ["view"] * 40 + ["buy"] * 10
CAT_B0 = ["click"] * 10 + ["view"] * 30
CAT_B1 = ["buy"] * 15 + ["install"] * 5  # 'install' appears only in cur
CAT_SCHEMA = "event_type string"


def _cats(spark, xs):
    return spark.createDataFrame([(c,) for c in xs], CAT_SCHEMA)


def _crows(df):
    return sorted(
        (r.category, r.c_ref, r.c_cur, r.drift_term) for r in df.collect()
    )


@pytest.fixture()
def cat_dir(tmp_path):
    d = tmp_path / "cats"
    d.mkdir()
    for name, batch, age in (("b0.jsonl", CAT_B0, 200), ("b1.jsonl", CAT_B1, 100)):
        p = d / name
        p.write_text(
            "\n".join(json.dumps({"event_type": c}) for c in batch) + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - age, now - age))
    return str(d)


def test_streaming_categorical_equals_batch_report(spark, cat_dir, tmp_path):
    from streaming_recommendation_spark.operators.quality import (
        categorical_drift,
        category_counts,
    )
    from streaming_recommendation_spark.streaming.drift import (
        categorical_drift_as_of,
        categorical_ingest_batch,
    )

    ref = _cats(spark, CAT_REF)
    stream = (
        spark.readStream.schema(CAT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
        .json(cat_dir)
    )
    q = start_fold(
        stream,
        partial(
            categorical_ingest_batch,
            counts_dir=str(tmp_path / "counts"),
            cat_col="event_type",
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = categorical_drift_as_of(
        spark, str(tmp_path / "counts"), category_counts(ref, "event_type")
    )
    want = categorical_drift(ref, _cats(spark, CAT_B0 + CAT_B1), "event_type")
    assert _crows(got) == _crows(want)
    # the appearing category carries its full one-sided mass
    inst = [r for r in _crows(got) if r[0] == "install"][0]
    assert inst[1] == 0 and inst[2] == 5 and inst[3] > 0


def test_categorical_ingest_retry_idempotent(spark, tmp_path):
    from streaming_recommendation_spark.operators.quality import (
        categorical_drift,
        category_counts,
    )
    from streaming_recommendation_spark.streaming.drift import (
        categorical_drift_as_of,
        categorical_ingest_batch,
    )

    counts = str(tmp_path / "counts")
    categorical_ingest_batch(_cats(spark, CAT_B0), 0, counts, "event_type")
    categorical_ingest_batch(_cats(spark, CAT_B1), 1, counts, "event_type")
    # at-least-once redelivery of batch 1 overwrites exactly itself
    categorical_ingest_batch(_cats(spark, CAT_B1), 1, counts, "event_type")
    ref = _cats(spark, CAT_REF)
    got = categorical_drift_as_of(
        spark, counts, category_counts(ref, "event_type")
    )
    want = categorical_drift(ref, _cats(spark, CAT_B0 + CAT_B1), "event_type")
    assert _crows(got) == _crows(want)
